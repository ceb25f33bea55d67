"""Snapshot-versioned lakehouse tables (Iceberg semantics on plain
parquet + a JSON manifest).

Parity: the reference stores bronze/silver as BigQuery Iceberg tables
on GCS (terraform/bigquery_tables.tf, loader
services/loader/bigquery_manager.py creates/appends). This container
has no Iceberg runtime jar, so the same contract — atomic snapshot
commits, append/overwrite, time travel, small-file compaction,
snapshot expiry, schema-evolution on append — is implemented directly:

    table_dir/
      _manifest.json        # snapshot log (append-only commits)
      data/snap-000001/*.parquet
      data/snap-000002/*.parquet

With a partition spec (``LakehouseTable(path, partition_by=[...])``,
Iceberg identity-partitioning), each snapshot directory is laid out
hive-style (``data/snap-x/col=value/*.parquet``); the manifest records
each file's partition values, and ``scan(ranges=...)`` prunes on them
EXACTLY (partition pruning) before consulting footer min/max stats
(file skipping) — the same two-level pruning Iceberg does with
partition summaries + column stats.

A snapshot lists the parquet files that constitute the table at that
version; readers take the file list from the manifest (never directory
listing, so concurrent writers can't corrupt reads) — the same
metadata-driven-scan idea as Iceberg's manifest lists.

Scale notes: reads pass the explicit file list to spark.read.parquet →
partition pruning and pushdown work unchanged; compaction rewrites
files with coalesce to the target count without shuffling rows.
On a real deployment swap this module for Spark's Iceberg catalog
(spark.sql.catalog.* config) — the operator surface is identical.
"""

from __future__ import annotations

import copy
import json
import os
import re
import threading
import time
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biglake_iceberg_pipeline_spark.sinks.deletes import (
    apply_deletes,
    by_kind,
    coordinate_frame,
    delete_kind,
    encode_dv,
    eq_delete_join,
    plan_deletes,
    pos_delete_file_clustered,
)
# re-exported: callers import the deletion-vector codec from here
from biglake_iceberg_pipeline_spark.sinks.deletes import (  # noqa: F401
    decode_dv,
    dv_affected_files,
    dv_coordinates,
)
from biglake_iceberg_pipeline_spark.sinks.fileio import fileio_for
from biglake_iceberg_pipeline_spark.operators.schema_evolution import (
    align_for_append,
    align_to_schema,
    evolve_schema,
)

# ---- hidden-partitioning transforms (Iceberg partition transforms) --
# A spec entry is either a plain column name (identity partitioning)
# or a TRANSFORM of one: "days(ts)" / "months(ts)" / "hours(ts)" /
# "bucket(16,id)" / "truncate(4,name)". The derived value exists ONLY
# in the hive path (never as a data column, never in read output) —
# Iceberg's hidden partitioning: users query the SOURCE column and
# pruning maps their predicate to the transform, so nobody has to
# remember to also filter a synthetic day/bucket column.

_TRANSFORM_RE = re.compile(
    r"^(days|months|hours|bucket|truncate)\(\s*(?:(\d+)\s*,\s*)?(\w+)\s*\)$"
)


def _parse_spec_entry(entry: str) -> dict:
    """'col' → identity; 'days(col)' etc → transform descriptor with
    the derived hive column name (``p_<col>_<kind>[<param>]`` — no
    leading underscore: Spark's file index hides ``_*`` paths)."""
    m = _TRANSFORM_RE.match(entry.strip())
    if not m:
        return {
            "kind": "identity",
            "src": entry,
            "param": None,
            "name": entry,
        }
    kind, param, src = m.group(1), m.group(2), m.group(3)
    if kind in ("bucket", "truncate"):
        if param is None:
            raise ValueError(
                f"{kind}() needs a width, e.g. {kind}(16,{src})"
            )
        if int(param) < 1:
            raise ValueError(
                f"{kind}() width must be >= 1, got {param}"
            )
        return {
            "kind": kind,
            "src": src,
            "param": int(param),
            "name": f"p_{src}_{kind}{param}",
        }
    if param is not None:
        raise ValueError(f"{kind}() takes one column: {kind}({src})")
    return {
        "kind": kind,
        "src": src,
        "param": None,
        "name": f"p_{src}_{kind[:-1]}",
    }


_TIME_FORMATS = {
    "days": "yyyy-MM-dd",
    "months": "yyyy-MM",
    "hours": "yyyy-MM-dd-HH",
}
_TIME_STRFTIME = {
    "days": "%Y-%m-%d",
    "months": "%Y-%m",
    "hours": "%Y-%m-%d-%H",
}


def _transform_expr(e: dict):
    """The derived partition value as a JVM expression (computed at
    write time only; readers never see it)."""
    c = F.col(e["src"])
    if e["kind"] in _TIME_FORMATS:
        return F.date_format(
            c.cast("timestamp"), _TIME_FORMATS[e["kind"]]
        )
    if e["kind"] == "bucket":
        # crc32 over the string form: replicable driver-side
        # (zlib.crc32) for metadata-only pruning — xxhash64/murmur3
        # have no stdlib Python twin
        return F.pmod(
            F.crc32(c.cast("string").cast("binary")), F.lit(e["param"])
        )
    if e["kind"] == "truncate":
        return F.substring(c.cast("string"), 1, e["param"])
    raise ValueError(f"unknown transform {e['kind']!r}")


def _transform_bounds(e: dict, lo, hi):
    """Map a predicate range on the SOURCE column to a range on the
    derived hive value, for manifest-level pruning. Time and truncate
    transforms are monotone in the value's string form, so the bound
    images bound the image. bucket() is not ordered: only an equality
    (lo == hi) prunes, to the single bucket of that value. Returns
    (lo', hi') as strings, or None when this transform can't prune
    the given range (the file is then kept conservatively)."""
    import datetime
    import zlib

    def day_str(v):
        if isinstance(v, str):
            try:
                v = datetime.datetime.fromisoformat(v)
            except ValueError:
                return None
        if isinstance(v, datetime.datetime) and v.tzinfo is not None:
            # write-side date_format renders in the session timezone,
            # which session.py pins to UTC — normalize aware bounds
            # to the same frame before taking the bucket string
            v = v.astimezone(datetime.timezone.utc).replace(
                tzinfo=None
            )
        if isinstance(v, (datetime.datetime, datetime.date)):
            return v.strftime(_TIME_STRFTIME[e["kind"]])
        return None

    if e["kind"] in _TIME_STRFTIME:
        lo2 = day_str(lo) if lo is not None else None
        hi2 = day_str(hi) if hi is not None else None
        if (lo is not None and lo2 is None) or (
            hi is not None and hi2 is None
        ):
            return None
        return lo2, hi2
    if e["kind"] == "truncate":
        # one-sided ranges prune on their present bound; non-string
        # values (numeric truncate) keep files conservatively
        if (lo is not None and type(lo) is not str) or (
            hi is not None and type(hi) is not str
        ):
            return None
        if lo is None and hi is None:
            return None
        return (
            lo[: e["param"]] if lo is not None else None,
            hi[: e["param"]] if hi is not None else None,
        )
    if e["kind"] == "bucket":
        if lo is None or hi is None or lo != hi:
            return None
        # only renderings guaranteed to match Spark's CAST(col AS
        # STRING) may prune: str and int (exact types — bool is an
        # int subclass but renders 'True' vs JVM 'true'; floats go
        # scientific differently; anything else keeps the file)
        if type(lo) is not str and type(lo) is not int:
            return None
        b = str(zlib.crc32(str(lo).encode("utf-8")) % e["param"])
        return b, b
    return None



class _SnapshotChain:
    """Forward-replay decoder for delta-encoded snapshot lists with a
    memoized cursor: sequential access over history costs one linear
    walk total, and accessing only the CURRENT snapshot materializes
    O(current files) entries — never O(snapshots x files). Random
    backward access (time travel to an older snapshot after reading a
    newer one) restarts the walk from the beginning: rare, and still
    O(history deltas) work with O(1) full lists held.

    ``deltas[i][key]`` is ``("full", list)`` for a snapshot that
    stored the full list, ``("delta", added, removed)`` for a
    delta-encoded one, ``("lazyfull", snapshot)`` for a boundary
    that defers to ANOTHER snapshot's list (the freshly appended
    tail entry's private chain roots at its predecessor without
    decoding it — the predecessor materializes through its own
    chain only if someone actually reads the new entry's list), or
    absent — which, mirroring the encoder, leaves the running state
    untouched.

    ``resets`` (r9, the segmented manifest): indices where the
    running state ZEROES before the entry applies — manifest SEGMENT
    boundaries flagged ``reset`` were encoded standalone from an
    empty state, so the decoder must forget the previous segment's
    tail there. The decoder also starts a cold walk from the latest
    checkpoint (a ``full`` entry or a reset) at or before the target
    instead of index 0 — decoding the current snapshot of a long
    history costs O(entries since the last checkpoint)."""

    __slots__ = ("_deltas", "_pos", "_state", "_resets", "_lock")

    def __init__(self, deltas: list[dict], resets=frozenset()):
        self._deltas = deltas
        self._pos = {"files": -1, "deletes": -1}
        self._state: dict[str, list] = {"files": [], "deletes": []}
        self._resets = frozenset(resets)
        # chains are SHARED: across every _LazySnapshot of one read,
        # and (via the assembly cache) across every clone of one
        # generation — an unlocked cursor racing two threads could
        # pair one thread's _pos with the other's _state and decode
        # a wrong list silently
        self._lock = threading.Lock()

    def decode(self, idx: int, key: str) -> list:
        with self._lock:
            return self._decode_locked(idx, key)

    def _decode_locked(self, idx: int, key: str) -> list:
        pos = self._pos[key]
        state = self._state[key]
        if idx < pos:
            pos, state = -1, []
        start = pos + 1
        # checkpoint skip: the latest full entry or reset boundary in
        # (pos, idx] makes everything before it irrelevant for key
        for i in range(idx, pos, -1):
            d = self._deltas[i].get(key)
            if (
                d is not None and d[0] in ("full", "lazyfull")
            ) or i in self._resets:
                start, state = i, []
                break
        for i in range(start, idx + 1):
            if i in self._resets:
                state = []
            d = self._deltas[i].get(key)
            if d is None:
                continue
            if d[0] == "full":
                state = d[1]
            elif d[0] == "lazyfull":
                # defer to the referenced snapshot's list (decodes
                # through ITS chain; lock order private -> shared is
                # acyclic — a shared chain never references back)
                state = d[1][key]
            else:
                rm = set(d[2])
                state = [f for f in state if f not in rm] + d[1]
        self._pos[key] = idx
        self._state[key] = state
        if self._deltas[idx].get(key) is None:
            # keyless snapshot: reads as empty without disturbing
            # the running state (the ADVICE r7 truncation fix)
            return []
        return list(state)


class _LazySnapshot(dict):
    """Snapshot dict whose delta-encoded ``files`` / ``deletes``
    lists decode on first access. Every other key is a real dict
    entry; the in-memory contract (``s["files"]`` is the full list)
    is unchanged for callers — only the WORK moves to the access.
    Assigning ``s["files"] = ...`` shadows the lazy value; later
    snapshots still decode from the on-disk deltas (exactly the
    eager behavior, where each snapshot's list was independent data
    after the upfront decode).

    CAUTION for new code: C fast paths that read raw dict storage —
    ``dict(s)``, ``{**s}``, ``json.dump(s)`` — bypass lazy keys; use
    ``to_plain()`` (the encoder and clone already do).

    ``_pending`` (VERDICT r10 item 4 — the O(live)-free commit):
    ``_locked_commit`` attaches ``{key: (added, removed)}`` to a
    freshly appended tail entry whose list is BY CONSTRUCTION
    ``predecessor's list minus removed plus added``; the encoder
    emits that delta directly instead of materializing both full
    lists and re-diffing them. Any mutation of a pending key
    invalidates the shortcut (the constructed relationship no longer
    holds), so ``__setitem__``/``pop``/``__delitem__`` clear it."""

    __slots__ = ("_chain", "_idx", "_lazy", "_pending")

    def __init__(
        self,
        data: dict,
        chain: _SnapshotChain,
        idx: int,
        lazy: frozenset,
    ):
        super().__init__(data)
        self._chain = chain
        self._idx = idx
        self._lazy = lazy
        self._pending = None

    @staticmethod
    def _private_append_delta(cur, key):
        """The (added, removed) delta when ``cur`` is an
        unmaterialized lazy APPEND entry (the private 2-entry
        lazyfull-rooted chain ``_locked_commit`` builds), else
        None."""
        if not (
            isinstance(cur, _LazySnapshot)
            and key in cur._lazy
            and not dict.__contains__(cur, key)
            and cur._idx == 1
            and len(cur._chain._deltas) == 2
        ):
            return None
        d0 = cur._chain._deltas[0].get(key)
        d1 = cur._chain._deltas[1].get(key)
        if d0 is None or d0[0] != "lazyfull" or d1 is None or d1[0] != "delta":
            return None
        return d1

    def _force(self, key):
        if key not in self._lazy or dict.__contains__(self, key):
            return
        # iterative chase over chained lazy-append entries (each
        # commit's tail roots at its predecessor via ``lazyfull``):
        # a recursive walk would hold one lock per hop and hit the
        # recursion limit on long uncompacted histories
        pending = []
        cur = self
        while True:
            d = _LazySnapshot._private_append_delta(cur, key)
            if d is None:
                break
            pending.append(d)
            cur = cur._chain._deltas[0][key][1]
        if pending:
            base = cur[key] if key in cur else []
            state = list(base)
            for d in reversed(pending):
                rm = set(d[2])
                state = [f for f in state if f not in rm] + d[1]
            dict.__setitem__(self, key, state)
            return
        dict.__setitem__(
            self, key, self._chain.decode(self._idx, key)
        )

    def materialize(self) -> "_LazySnapshot":
        for key in self._lazy:
            self._force(key)
        return self

    def to_plain(self) -> dict:
        """Plain-dict copy with lazy keys resolved WITHOUT caching
        them here — the encoder's path: a full re-encode walks every
        snapshot sequentially, and peeking keeps memory at O(1) full
        lists instead of retaining every decoded list."""
        out = dict(self)  # raw storage only — lazy keys absent
        for key in self._lazy:
            if key not in out:
                out[key] = self._chain.decode(self._idx, key)
        return out

    def __getitem__(self, key):
        self._force(key)
        return dict.__getitem__(self, key)

    def get(self, key, default=None):
        if key in self._lazy:
            self._force(key)
        return dict.get(self, key, default)

    def __contains__(self, key):
        return key in self._lazy or dict.__contains__(self, key)

    def _unpend(self, key):
        if self._pending is not None and key in self._pending.get(
            "deltas", ()
        ):
            self._pending = None

    def __setitem__(self, key, value):
        self._unpend(key)
        dict.__setitem__(self, key, value)

    def update(self, other=(), **kw):
        items = other.items() if hasattr(other, "items") else other
        for k, v in items:
            self[k] = v
        for k, v in kw.items():
            self[k] = v

    def pop(self, key, *default):
        if key in self._lazy:
            self._force(key)
            # drop the key from the lazy set: leaving it would make a
            # later ``key in s`` True and ``s[key]`` re-decode and
            # RESURRECT the popped list (ADVICE r8)
            self._lazy = self._lazy - {key}
        self._unpend(key)
        return dict.pop(self, key, *default)

    def __delitem__(self, key):
        if key in self._lazy:
            self._force(key)
            self._lazy = self._lazy - {key}
        self._unpend(key)
        dict.__delitem__(self, key)

    def __len__(self):
        # raw storage misses unmaterialized keys (ADVICE r8)
        self.materialize()
        return dict.__len__(self)

    def __eq__(self, other):
        self.materialize()
        if isinstance(other, _LazySnapshot):
            other.materialize()
        return dict.__eq__(self, other)

    def __ne__(self, other):
        eq = self.__eq__(other)
        return eq if eq is NotImplemented else not eq

    __hash__ = None  # dicts are unhashable; keep the subclass so too

    def setdefault(self, key, default=None):
        if key in self._lazy:
            self._force(key)
        return dict.setdefault(self, key, default)

    def keys(self):
        self.materialize()
        return dict.keys(self)

    def values(self):
        self.materialize()
        return dict.values(self)

    def items(self):
        self.materialize()
        return dict.items(self)

    def __iter__(self):
        self.materialize()
        return dict.__iter__(self)

    def copy(self):
        return self.to_plain()

    def __reduce__(self):
        # pickling (e.g. into a Spark task closure) ships a plain
        # dict — the chain is driver-side state
        return (dict, (self.to_plain(),))


def _delta_decode_snapshots(manifest: dict, resets=frozenset()) -> dict:
    """Wrap delta-encoded per-snapshot file lists for LAZY expansion
    IN PLACE (and return the manifest). On disk each snapshot stores
    only what changed vs its predecessor (``files_added`` /
    ``files_removed``, same for the merge-on-read ``deletes`` tail) —
    real Iceberg's per-snapshot manifest-file idea on a single JSON:
    commit bytes are O(delta), not O(snapshots x files). In memory the
    full ``files`` list is still the canonical contract every
    reader/writer path uses, but since round 8 it materializes ON
    ACCESS (``_LazySnapshot`` + ``_SnapshotChain``): reading a table
    with 10^4 retained snapshots and touching only the current one
    decodes O(current files), not 10^8 list entries. Legacy manifests
    (full ``files`` per snapshot) pass through untouched and
    re-encode on their next commit."""
    snaps = manifest.get("snapshots", [])
    if not snaps:
        return manifest
    deltas: list[dict] = []
    out: list[dict] = []
    chain = _SnapshotChain(deltas, resets)
    for idx, s in enumerate(snaps):
        d: dict[str, tuple] = {}
        lazy = set()
        for key in ("files", "deletes"):
            added = s.pop(f"{key}_added", None)
            removed = s.pop(f"{key}_removed", None)
            if key in s:
                d[key] = ("full", s[key])
            elif added is not None or removed is not None:
                d[key] = ("delta", added or [], removed or [])
                lazy.add(key)
            elif key == "files":
                # keyless snapshot (hand-edited / foreign writer):
                # reads as empty; the chain leaves its running state
                # untouched, mirroring the encoder (ADVICE r7)
                lazy.add(key)
        deltas.append(d)
        out.append(
            _LazySnapshot(s, chain, idx, frozenset(lazy)) if lazy else s
        )
    manifest["snapshots"] = out
    return manifest


def _delta_encode_entries(
    snaps: list[dict], prev_known: dict, boundary_id=None
) -> list[dict]:
    """Delta-encode snapshot entries against a KNOWN decoder boundary
    state: ``prev_known[key]`` is the list the decoder holds entering
    the first entry (``[]`` at a reset boundary; ``None`` = unknown —
    the first entry carrying that key then stays FULL, which resets
    the decoder regardless of carried state; a CALLABLE = the list is
    known but not yet materialized — it is invoked only if an entry
    actually needs diffing, so the O(live-free) append path below
    never pays for it). Lossless by construction: if reconstruction
    would not reproduce the exact list (order included), the full
    list is kept for that snapshot — appends and rewrites both
    round-trip exactly, so the fallback is a safety net, not a path.

    Entries carrying ``_pending`` (``_LazySnapshot``; set only by
    ``_locked_commit`` on a freshly appended tail entry) PASS THROUGH:
    their list is by construction ``predecessor minus removed plus
    added``, so emitting the recorded delta is exact without
    materializing either full list — the commit costs O(its own
    delta), not O(live files) (VERDICT r10 item 4). Validity is
    anchored TWICE: the per-key trust set below, and
    ``pend["pred_id"] == boundary_id`` — the entry directly before
    this one in encode order must BE the construction predecessor.
    Without the id anchor, expiring an interior snapshot (tagged
    older survivor + expired direct predecessor) re-encodes the tail
    entry's delta against the WRONG base and silently drops the
    expired commit's files from the on-disk list (/code-review r11,
    reproduced live)."""
    enc = []
    prev = dict(prev_known)
    # pass-through needs the boundary to BE the entry's construction
    # predecessor, not merely known: a reset/legacy seed ([]) is a
    # decoder artifact, not the predecessor's list — passing a delta
    # through there would truncate history. Thunks are only ever
    # built from the actual in-list predecessor, and every processed
    # entry leaves its own true list behind, so both mark the key
    # trusted from then on.
    trusted = {k for k, v in prev.items() if callable(v)}
    for s in snaps:
        pend = getattr(s, "_pending", None)
        if pend is not None:
            carried = [k for k in ("files", "deletes") if k in s]
            deltas = pend.get("deltas", {})
            if (
                pend.get("pred_id") == boundary_id
                and boundary_id is not None
                and set(deltas) == set(carried)
                and all(k in trusted for k in deltas)
            ):
                e = {
                    k: v
                    for k, v in dict.items(s)  # raw storage only
                    if k not in ("files", "deletes")
                }
                for key in carried:
                    added, removed = deltas[key]
                    e[f"{key}_added"] = list(added)
                    if removed:
                        e[f"{key}_removed"] = list(removed)
                    # the next entry's boundary: materialize only on
                    # demand (s[key] applies the delta via the chain)
                    prev[key] = (lambda s=s, key=key: s[key])
                enc.append(e)
                boundary_id = e.get("id")
                continue
        # dict(s) reads raw storage and would drop a _LazySnapshot's
        # unmaterialized lists — to_plain() resolves them via the
        # chain's sequential cursor (O(1) full lists held, no
        # caching back into the snapshot)
        e = s.to_plain() if isinstance(s, _LazySnapshot) else dict(s)
        for key in ("files", "deletes"):
            if key not in e:
                continue
            cur = e[key]
            pv = prev[key]
            prev[key] = cur
            trusted.add(key)
            if pv is None:
                continue  # unknown boundary state: keep the full list
            if callable(pv):
                pv = pv()
            pset = set(pv)
            cset = set(cur)
            added = [f for f in cur if f not in pset]
            removed = [f for f in pv if f not in cset]
            rm = set(removed)
            if [f for f in pv if f not in rm] + added != cur:
                continue  # order not reconstructible: keep full list
            del e[key]
            e[f"{key}_added"] = added
            if removed:
                e[f"{key}_removed"] = removed
        enc.append(e)
        boundary_id = e.get("id")
    return enc


def _delta_encode_snapshots(manifest: dict) -> dict:
    """Copy of ``manifest`` with per-snapshot file lists delta-encoded
    against their predecessor IN LIST ORDER (the decoder's order) —
    the pre-r9 single-file layout, kept for round-trip tests and
    in-memory encodes; on disk the segmented ``_commit`` encodes per
    segment via ``_delta_encode_entries``."""
    snaps = manifest.get("snapshots", [])
    if not snaps:
        return manifest
    out = dict(manifest)
    out["snapshots"] = _delta_encode_entries(
        snaps, {"files": [], "deletes": []}
    )
    return out


# ------------------------------------------------- segmented manifest
#
# On-disk layout (format 2, r9 — the VERDICT r8 top item): the
# manifest splits into
#
#   _manifest.json            "core": table metadata (schema, txns,
#                             tags, branches, specs, ...) + the
#                             SEGMENT LIST [{name, n, reset}, ...]
#   _segments/seg-*.json      per-snapshot entries (delta-encoded) +
#                             the per-file maps (stats/rows/sizes/
#                             added_at/partitions/delete_meta/sidecar
#                             pointers) for files FIRST RECORDED there
#
# A commit writes the OPEN TAIL segment (at most
# _SEGMENT_SEAL_SNAPSHOTS snapshots' deltas plus the new files'
# map entries) and the core (metadata + O(#segments) descriptors) —
# O(its own delta), never a re-serialization of the whole history;
# sealed segments are reused by name untouched. Iceberg's
# per-snapshot manifest files + manifest list, on JSON.
#
# Invariants the reuse check relies on:
#   * snapshot entries are IMMUTABLE once committed (writers only
#     append / filter the list — nothing mutates an old entry in
#     place); reuse verifies the id sequence only.
#   * per-file map entries are immutable for immutable files
#     (footer stats/rows/sizes/added_at/partitions/delete_meta) —
#     presence-checked; the sidecar POINTER maps (ndv/bloom/file_ndv)
#     can be re-pointed by refreshes, so their values are compared.
#   * segment files are never rewritten in place: a dirty segment is
#     re-written under a NEW name and the old file reaped after the
#     core swap (readers that raced the swap retry from the new
#     core; names are unique, so the process-wide parse cache can
#     never go stale).
#
# Misaligned history (expiry dropped snapshots, a foreign manifest,
# a clone's deep copy) falls back to a full re-split — the
# maintenance-grade path, O(table) like the operation that caused it.

_PER_FILE_KEYS = (
    "file_stats",
    "file_rows",
    "file_sizes",
    "file_added_at",
    "file_partitions",
    "delete_meta",
    "ndv_sidecars",
    "bloom_sidecars",
    "file_ndv",
)
_MUTABLE_PER_FILE_KEYS = frozenset(
    {"ndv_sidecars", "bloom_sidecars", "file_ndv"}
)
_SEGMENT_SEAL_SNAPSHOTS = 64
#: a tail segment also seals when its serialized size crosses this
#: threshold, regardless of entry count: every commit rewrites the
#: whole open tail, so one fat snapshot (a 100k-file initial load)
#: parked in the tail would tax every later commit with megabytes of
#: re-serialization until 64 entries accrued. Size-sealing caps the
#: per-commit write at O(threshold + own delta). Descriptors carry
#: ``bytes`` from write time; legacy descriptors (no size) keep the
#: count-only rule.
_SEGMENT_SEAL_BYTES = 256 * 1024
#: every Nth fresh tail starts a RESET segment (encoded standalone
#: from empty state): the decoder's checkpoint scan — and therefore
#: the tail encoder's boundary-state decode on every commit — walks
#: at most N*_SEGMENT_SEAL_SNAPSHOTS deltas instead of the whole
#: history. Measured: without resets, commit CPU grew 1.4 -> 22.6 ms
#: across 1000 epochs (O(history) decode); with the cadence it stays
#: flat. The reset head re-encodes the live file list once per
#: N*64 commits — O(live/epoch) amortized bytes.
_SEGMENT_RESET_EVERY = 4
_SEG_PLAN_KEY = "_seg_plan"
_SEGMENT_CACHE: dict[str, dict] = {}
_SEGMENT_CACHE_CAP = 512


class _TrackedMap(dict):
    """Per-file manifest map (file -> stats/rows/sidecar...) that
    records which FILE KEYS were touched after assembly, so
    ``_commit``'s sealed-segment reuse decision and tail-remainder
    computation replay their predicates over O(changed entries)
    instead of walking every live file's map entries per commit
    (VERDICT r9 item 5 — the residual O(live files) commit
    component). ``_touched`` holds keys set to a DIFFERENT value or
    removed; ``_added`` keys absent at assembly time. Code that
    replaces a whole map (``manifest[k] = {...}``) simply loses the
    tracking and _commit falls back to the full walk for that key —
    the fast path is an optimization, never a correctness
    assumption. Pickling/deepcopy degrade to a plain dict: tracking
    is driver-side commit state, not data."""

    __slots__ = ("_touched", "_added")

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self._touched: set = set()
        self._added: set = set()

    def _mark(self, key, value):
        if not dict.__contains__(self, key):
            self._added.add(key)
            self._touched.add(key)
        elif dict.__getitem__(self, key) != value:
            self._touched.add(key)

    def __setitem__(self, key, value):
        self._mark(key, value)
        dict.__setitem__(self, key, value)

    def update(self, other=(), **kw):
        items = other.items() if hasattr(other, "items") else other
        for k, v in items:
            self[k] = v
        for k, v in kw.items():
            self[k] = v

    def __delitem__(self, key):
        dict.__delitem__(self, key)
        self._touched.add(key)
        self._added.discard(key)

    def pop(self, key, *default):
        had = dict.__contains__(self, key)
        out = dict.pop(self, key, *default)
        if had:
            self._touched.add(key)
            self._added.discard(key)
        return out

    def popitem(self):
        k, v = dict.popitem(self)
        self._touched.add(k)
        self._added.discard(k)
        return k, v

    def clear(self):
        self._touched.update(dict.keys(self))
        self._added.clear()
        dict.clear(self)

    def setdefault(self, key, default=None):
        if not dict.__contains__(self, key):
            self[key] = default
            return default
        return dict.__getitem__(self, key)

    def copy(self):
        return dict(self)

    def __reduce__(self):
        return (dict, (dict(self),))


def _load_segment(path: str) -> dict:
    """Parse a segment file, memoized process-wide: segment names are
    unique per write (never rewritten in place), so a cache hit can
    never be stale — the cap only bounds memory."""
    hit = _SEGMENT_CACHE.get(path)
    if hit is not None:
        return hit
    content = json.loads(fileio_for(path).read_bytes(path))
    if len(_SEGMENT_CACHE) >= _SEGMENT_CACHE_CAP:
        for k in list(_SEGMENT_CACHE)[: _SEGMENT_CACHE_CAP // 4]:
            _SEGMENT_CACHE.pop(k, None)
    _SEGMENT_CACHE[path] = content
    return content


_DELTA_ENTRY_KEYS = frozenset(
    {"files_added", "files_removed", "deletes_added", "deletes_removed"}
)
_SEGMENT_DECODE_CACHE: dict[str, list] = {}


def _segment_decoded(seg_path: str, content: dict) -> list[tuple]:
    """Per-entry decode DERIVATIONS for one segment, memoized
    process-wide (segment names are unique per write, so a hit can
    never be stale — same argument as ``_load_segment``): each row is
    ``(storage, delta, lazy)`` where ``storage`` is the entry minus
    its delta keys (a template the assembler shallow-copies per
    read), ``delta`` the _SnapshotChain instruction, ``lazy`` the
    keys that materialize on access. Deriving these once per SEGMENT
    instead of once per READ removes the O(history) per-snapshot
    parse work that dominated commit latency on long histories (the
    r9 verdict's residual-growth item): a table open now pays
    O(tail + new segments), and steady-state commits re-derive only
    the rewritten tail."""
    hit = _SEGMENT_DECODE_CACHE.get(seg_path)
    if hit is not None:
        return hit
    rows: list[tuple] = []
    for e in content.get("snapshots", []):
        d: dict[str, tuple] = {}
        lazy: set = set()
        for key in ("files", "deletes"):
            added = e.get(f"{key}_added")
            removed = e.get(f"{key}_removed")
            if key in e:
                d[key] = ("full", e[key])
            elif added is not None or removed is not None:
                d[key] = ("delta", added or [], removed or [])
                lazy.add(key)
            elif key == "files":
                # keyless snapshot: reads as empty, chain state
                # untouched (mirrors _delta_decode_snapshots)
                lazy.add(key)
        storage = {
            k: v for k, v in e.items() if k not in _DELTA_ENTRY_KEYS
        }
        rows.append((storage, d, frozenset(lazy)))
    if len(_SEGMENT_DECODE_CACHE) >= _SEGMENT_CACHE_CAP:
        for k in list(_SEGMENT_DECODE_CACHE)[: _SEGMENT_CACHE_CAP // 4]:
            _SEGMENT_DECODE_CACHE.pop(k, None)
    _SEGMENT_DECODE_CACHE[seg_path] = rows
    return rows


def _assemble_segmented(path: str, core: dict) -> dict:
    """Assemble the in-memory manifest from a format-2 core + its
    segments: snapshots concatenate (lazily decoded, reset boundaries
    respected), per-file maps merge in segment order. The private
    ``_seg_plan`` records what came from where so ``_commit`` can
    reuse clean segments byte-for-byte."""
    manifest = {k: v for k, v in core.items() if k != "segments"}
    deltas: list[dict] = []
    storages: list[tuple] = []
    resets: set[int] = set()
    plan_segs: list[dict] = []
    for d in core.get("segments", []):
        seg_path = os.path.join(path, "_segments", d["name"])
        content = _load_segment(seg_path)  # may raise FileNotFoundError
        n = d.get("n", len(content.get("snapshots", [])))
        entries = content.get("snapshots", [])[:n]
        if d.get("reset") and entries:
            # resets are only meaningful on segments that actually
            # contain entries (encoded standalone from empty state).
            # An ENTRY-LESS segment flagged reset (written by pre-r10
            # map-only commits at the reset cadence) would land the
            # reset index on the NEXT segment's first entry — whose
            # deltas were encoded against the predecessor's full
            # state — truncating every later snapshot's decode
            # (ADVICE r10). Ignoring the flag heals such tables on
            # read; _commit no longer writes them.
            resets.add(len(deltas))
        plan_segs.append(
            {
                "name": d["name"],
                "n": len(entries),
                "reset": bool(d.get("reset")),
                "bytes": d.get("bytes"),
                "ids": [e.get("id") for e in entries],
                "enc": entries,
                "maps": {
                    k: content[k] for k in _PER_FILE_KEYS if k in content
                },
            }
        )
        for row in _segment_decoded(seg_path, content)[:n]:
            deltas.append(row[1])
            storages.append(row)
    chain = _SnapshotChain(deltas, frozenset(resets))
    snaps: list[dict] = []
    for idx, (storage, _d, lazy) in enumerate(storages):
        # shallow-copy the cached template: callers may shadow keys
        # on their snapshot dicts, never on the cache
        s = dict(storage)
        snaps.append(
            _LazySnapshot(s, chain, idx, lazy) if lazy else s
        )
    manifest["snapshots"] = snaps
    core_maps: dict[str, frozenset] = {}
    for key in _PER_FILE_KEYS:
        present = key in manifest
        core_level = manifest.get(key, {})
        if core_level:
            # pre-segment entries living in the core itself (legacy
            # remnants): no segment owns them, so every commit's
            # tail must re-carry them — remember their names
            core_maps[key] = frozenset(core_level)
        merged = dict(core_level)
        for p in plan_segs:
            if key in p["maps"]:
                present = True
                merged.update(p["maps"][key])
        if present:
            # _TrackedMap(merged) copies WITHOUT marking: tracking
            # starts empty, recording only post-assembly mutations
            manifest[key] = _TrackedMap(merged)
    manifest[_SEG_PLAN_KEY] = {
        "path": path,
        "segments": plan_segs,
        "core_maps": core_maps,
    }
    return manifest


_ASSEMBLY_CACHE: dict[str, tuple[tuple, dict]] = {}
_ASSEMBLY_CACHE_CAP = 64


def _assembly_fingerprint(core: dict) -> tuple | None:
    """Identity of one committed manifest state: the CAS generation
    plus the (uuid-fresh, never-rewritten-in-place) segment names.
    Generation alone is not enough — a table dropped and recreated at
    the same path counts generations from 1 again and could collide
    with a stale entry; its segment names cannot."""
    gen = core.get("generation")
    if gen is None:
        return None
    return (gen, tuple(d["name"] for d in core.get("segments", [])))


def _assembly_cache_put(path: str, fp: tuple, template: dict) -> None:
    if len(_ASSEMBLY_CACHE) >= _ASSEMBLY_CACHE_CAP:
        for k in list(_ASSEMBLY_CACHE)[: _ASSEMBLY_CACHE_CAP // 4]:
            _ASSEMBLY_CACHE.pop(k, None)
    _ASSEMBLY_CACHE[path] = (fp, template)


def _clone_assembled(t: dict) -> dict:
    """Working copy of a cached assembled manifest. Snapshot entries
    are SHARED (read-only by convention; lazy-list forcing caches the
    same value, which is benign), per-file maps re-wrap as fresh
    ``_TrackedMap``s (C-level dict copy — the clone's mutations never
    reach the template), the segment plan is shared (read-only in
    ``_commit``), and every other nested structure deep-copies so a
    caller mutating ``txns``/``branches`` before a FAILED commit
    cannot pollute reads of the still-current generation."""
    m: dict = {}
    for k, v in t.items():
        if k == "snapshots":
            m[k] = list(v)
        elif k in _PER_FILE_KEYS:
            m[k] = _TrackedMap(v)
        elif k == _SEG_PLAN_KEY:
            m[k] = v
        elif isinstance(v, (dict, list)):
            m[k] = copy.deepcopy(v)
        else:
            m[k] = v
    return m


def column_rename_map(manifest: dict) -> dict[str, list[str]] | None:
    """{current column name: [every prior name, oldest first]} from
    the manifest's rename journal, or None when no renames exist.
    Renames compose: a->b then b->c yields {'c': ['a', 'b']} — any
    immutable data file stores the column under exactly ONE of these
    names (its write-time vintage), so a read coalesces across them
    without ambiguity (Iceberg renames via field ids; name-journal +
    reuse guard is the equivalent over raw parquet names,
    reference: the agent's cleaning/cast_column_type.sql family at
    table scale)."""
    return _rename_map_from(manifest.get("column_renames") or [])


def _rename_map_from(journal: list) -> dict[str, list[str]] | None:
    if not journal:
        return None
    cur: dict[str, list[str]] = {}
    for r in journal:
        priors = cur.pop(r["from"], [])
        cur[r["to"]] = priors + [r["from"]]
    return cur or None


def _augment_for_renames(committed, renames):
    """(read schema incl. prior-name columns typed as their current
    field, {current: priors-to-coalesce}) — or (committed, None) when
    no rename applies to a committed column. Prior columns read with
    the CURRENT type: rename composes with widening exactly like the
    plain overlay (upcast in the scan)."""
    from pyspark.sql.types import StructField, StructType

    if not renames:
        return committed, None
    have = {f.name for f in committed.fields}
    extra = []
    sel: dict[str, list[str]] = {}
    for fld in committed.fields:
        priors = [
            p for p in renames.get(fld.name, ()) if p not in have
        ]
        if priors:
            extra.extend(
                StructField(p, fld.dataType, True) for p in priors
            )
            sel[fld.name] = priors
    if not extra:
        return committed, None
    return StructType(list(committed.fields) + extra), sel


def load_manifest(path: str) -> dict:
    """Read a table's manifest — segmented format 2 or the legacy
    single file — into the in-memory contract every caller uses
    (full ``snapshots`` lists materializing lazily, merged per-file
    maps). The ONE manifest reader: LakehouseTable, the streaming
    source, and clone-protection walks all route here.

    Assembly is memoized per committed generation (VERDICT r10 item
    4): re-reading an unchanged table — every commit's read-modify-
    write cycle, every streaming trigger — costs O(live-map C-copy +
    snapshot-list pointer copy) instead of re-walking every segment's
    entries, so commit latency stays flat as history grows. The
    fingerprint (generation + segment names) changes on every commit
    by construction, so a hit can never be stale."""
    mp = os.path.join(path, "_manifest.json")
    io = fileio_for(mp)
    last_exc: Exception | None = None
    for _ in range(8):
        if not io.exists(mp):
            return {"snapshots": [], "schema": None}
        core = json.loads(io.read_bytes(mp))
        if "segments" not in core:
            return _delta_decode_snapshots(core)  # legacy format 1
        fp = _assembly_fingerprint(core)
        hit = _ASSEMBLY_CACHE.get(path)
        if hit is not None and fp is not None and hit[0] == fp:
            return _clone_assembled(hit[1])
        try:
            manifest = _assemble_segmented(path, core)
        except FileNotFoundError as exc:
            # a concurrent commit swapped the core and reaped a
            # replaced segment between our two reads — the new core
            # is consistent, re-read it
            last_exc = exc
            time.sleep(0.02)
            continue
        if fp is not None:
            # the template is never handed out: the first caller gets
            # a clone too, so its mutations stay its own
            _assembly_cache_put(path, fp, manifest)
            return _clone_assembled(manifest)
        return manifest
    raise OSError(
        f"manifest segments unstable under {path}"
    ) from last_exc


class SnapshotNotFoundError(ValueError):
    """A referenced snapshot id is absent from the table's log —
    typically expired by maintenance. Subclasses ValueError so callers
    predating the typed hierarchy keep working; incremental consumers
    catch THIS (not message substrings) to decide 're-baseline from a
    full read'."""


def _snapshot(manifest: dict, snapshot_id: int | None) -> dict | None:
    """The log entry of ``snapshot_id`` — the current snapshot for
    None (None on an empty table). Raises SnapshotNotFoundError when
    the id is not in the log."""
    snaps = manifest["snapshots"]
    if snapshot_id is None:
        return snaps[-1] if snaps else None
    for s in snaps:
        if s["id"] == snapshot_id:
            return s
    raise SnapshotNotFoundError(f"snapshot {snapshot_id} not found")


class LineageBrokenError(ValueError):
    """An incremental file-diff range crosses a rewrite snapshot
    (merge/delete/update/replace/overwrite): existing rows moved to
    new files, so a file-level diff would replay old rows as new.
    Catch this to fall back to a full recompute — string-matching the
    message would also swallow unrelated ValueErrors from user code
    (ADVICE r4)."""


class CommitConflict(RuntimeError):
    """Another writer committed between this operation's read of the
    table and its commit — the Iceberg optimistic-concurrency failure.
    Appends never raise this (they commute: the fresh tail is taken
    inside the commit lock); rewrites (merge/delete/compact/overwrite-
    of-read-state) would silently drop the other writer's rows, so
    they fail and the caller retries on the new state."""


class LakehouseTable:
    def __init__(self, path: str, partition_by: list[str] | None = None):
        self.path = path
        self.manifest_path = os.path.join(path, "_manifest.json")
        manifest = self._read_manifest()
        if "partition_by" in manifest:
            # manifest-authoritative, INCLUDING key-present-None
            # ("evolved to unpartitioned") — a constructor spec that
            # disagrees with the recorded one is an error either way
            existing = manifest["partition_by"] or None
            if partition_by and partition_by != existing:
                raise ValueError(
                    f"table is partitioned by {existing}, got {partition_by}"
                )
            self.partition_by = existing
        else:
            self.partition_by = partition_by or None
        #: post-commit observers, fired as fn(table, operation, snap_id)
        #: AFTER a successful data commit (never for txn-skipped
        #: replays). In-process only — the seam materialized views and
        #: other derived state hang auto-refresh on (sinks/matview.py);
        #: cross-process writers refresh via the read-path staleness
        #: check instead. Hook exceptions propagate to the writer but
        #: the data commit has already landed.
        self.on_commit: list = []

    def _fire_commit_hooks(self, operation: str, snap_id: int) -> None:
        for hook in list(self.on_commit):
            hook(self, operation, snap_id)

    # ------------------------------------------------------------ manifest

    def _read_manifest(self) -> dict:
        return load_manifest(self.path)

    def _commit(self, manifest: dict) -> None:
        """Segmented atomic manifest swap (format 2): reuse every
        clean sealed segment by name, rewrite dirty ones under new
        names, fold new snapshots + new per-file entries into the
        open tail segment, then swap the core — a commit writes
        O(its own delta + core metadata) bytes, never the whole
        history (the r8 verdict's top item; real Iceberg's
        per-snapshot manifests + manifest list). Legacy single-file
        manifests (no ``_seg_plan``) migrate here on their next
        commit via the full-re-split path. The core swap is the one
        atomic commit point; replaced segment files are reaped after
        it (racing readers retry from the new core)."""
        fileio_for(self.path).makedirs(self.path)
        plan = manifest.pop(_SEG_PLAN_KEY, None)
        if plan is not None and plan.get("path") != self.path:
            # a manifest handed across tables (clone deep copies) must
            # not reference the SOURCE's segment files — re-split
            plan = None
        snaps_mem = manifest.get("snapshots", [])
        maps_mem = {
            k: manifest[k] for k in _PER_FILE_KEYS if k in manifest
        }
        core = {
            k: v
            for k, v in manifest.items()
            if k != "snapshots" and k not in _PER_FILE_KEYS
        }
        segs = plan["segments"] if plan else []
        reuse: list[dict] = []
        to_write: list[tuple[str, bytes]] = []
        contents_by_name: dict[str, dict] = {}
        obsolete: list[str] = []
        owned: dict[str, set] = {k: set() for k in _PER_FILE_KEYS}
        clean_maps: list[dict] = []
        pos = 0
        folded: dict | None = None
        broke_at: int | None = None
        n_mem = len(snaps_mem)
        for i, p in enumerate(segs):
            # O(1) alignment probe per segment: endpoints + length.
            # Every history edit the repo performs either truncates a
            # prefix (expiry — shifts the first id), drops/replaces a
            # suffix (rewound reads), or appends — all caught here;
            # no operation rewrites interior ids in place.
            n = p["n"]
            if pos + n > n_mem or (
                n
                and (
                    snaps_mem[pos].get("id") != p["ids"][0]
                    or snaps_mem[pos + n - 1].get("id") != p["ids"][-1]
                )
            ):
                broke_at = i  # expiry / rewrite: re-split from here
                break
            dirty = False
            for k, m in p["maps"].items():
                cur = maps_mem.get(k, {})
                if isinstance(cur, _TrackedMap):
                    # assembled this read and only mutated through
                    # the tracked map: replay the dirty predicate
                    # over ONLY the touched entries — the reuse
                    # decision costs O(changed + #segments), not
                    # O(live files) (VERDICT r9 item 5)
                    it = (f for f in cur._touched if f in m)
                else:
                    # replaced wholesale since assembly (or a legacy
                    # manifest): fall back to the full walk
                    it = iter(m)
                for f in it:
                    if f not in cur or (
                        k in _MUTABLE_PER_FILE_KEYS and cur[f] != m[f]
                    ):
                        dirty = True
                        break
                if dirty:
                    break
            is_open_tail = (
                i == len(segs) - 1
                and p["n"] < _SEGMENT_SEAL_SNAPSHOTS
                and (
                    p.get("bytes") is None
                    or p["bytes"] < _SEGMENT_SEAL_BYTES
                )
            )
            if is_open_tail and (
                len(snaps_mem) > pos + p["n"] or dirty
            ):
                # fold the open tail into the new tail segment (its
                # map entries flow there via the not-owned remainder)
                folded = p
                break
            if dirty:
                name = f"seg-{uuid.uuid4().hex[:12]}.json"
                content: dict = {"snapshots": p["enc"]}
                for k, m in p["maps"].items():
                    if k not in maps_mem:
                        continue  # key removed wholesale: honor it
                    kept = {
                        f: maps_mem[k][f] for f in m if f in maps_mem[k]
                    }
                    content[k] = kept
                    owned[k].update(kept)
                data = json.dumps(
                    content, separators=(",", ":")
                ).encode()
                to_write.append((name, data))
                contents_by_name[name] = content
                obsolete.append(p["name"])
                reuse.append(
                    {
                        "name": name,
                        "n": p["n"],
                        "reset": p["reset"],
                        "bytes": len(data),
                    }
                )
            else:
                reuse.append(
                    {
                        "name": p["name"],
                        "n": p["n"],
                        "reset": p["reset"],
                        **(
                            {"bytes": p["bytes"]}
                            if p.get("bytes") is not None
                            else {}
                        ),
                    }
                )
                # clean reuse: do NOT build an O(entries) owned set —
                # the tail-remainder fast path below tests candidate
                # names against these maps directly (O(delta) total),
                # and the slow path unions them on demand
                clean_maps.append(p["maps"])
            pos += p["n"]
        if broke_at is not None:
            obsolete.extend(p["name"] for p in segs[broke_at:])
        elif folded is not None:
            obsolete.append(folded["name"])
        # ---- the new tail: folded old-tail entries (byte-identical)
        # plus newly encoded snapshots, plus every per-file entry not
        # owned by a reused segment
        if folded is not None:
            tail_enc = list(folded["enc"])
            tail_reset = folded["reset"]
            new_start = pos + folded["n"]
        else:
            tail_enc = []
            # a fresh tail resets when the run of continuation
            # segments since the last reset reaches the cadence —
            # bounding every later boundary-state decode (and the
            # lazy reader's checkpoint scan) to a constant window
            since_reset = 0
            for d in reuse:
                since_reset = 0 if d["reset"] else since_reset + 1
            tail_reset = (
                pos == 0 or since_reset >= _SEGMENT_RESET_EVERY
            )
            new_start = pos
        new_entries = snaps_mem[new_start:]
        if new_entries:
            if new_start == 0 or (tail_reset and not tail_enc):
                # the first new entry STARTS a reset segment (fresh
                # reset tail, a folded EMPTY reset tail, or the very
                # first commit): the decoder zeroes state at the
                # boundary, so the encoder must start from empty too
                # — seeding from the predecessor here would make the
                # decoder truncate history to just the new entries
                # (caught live by the NDV-refresh interleave, whose
                # map-only commits create empty reset tails that the
                # next append folds)
                prev_known: dict = {"files": [], "deletes": []}
            else:
                # seed the encoder with the decoder's boundary state:
                # the predecessor's lists where its ENCODED entry
                # carries the key; None (=> the first entry carrying
                # the key stays full) where the encoded boundary is
                # KEYLESS — there the decoder's running state is
                # "last present", and ``key in pred`` /
                # ``pred[key]`` on a _LazySnapshot report keyless as
                # present-and-[] — trusting that would delta-encode
                # new entries against empty while the decoder
                # replays them against the old list, RESURRECTING
                # files the new snapshot never had (ADVICE r10)
                pred = snaps_mem[new_start - 1]
                pred_enc = tail_enc[-1] if tail_enc else None
                if pred_enc is None:
                    for p in reversed(segs[: len(reuse)]):
                        if p["enc"]:
                            pred_enc = p["enc"][-1]
                            break
                prev_known = {}
                for key in ("files", "deletes"):
                    enc_has = pred_enc is not None and any(
                        k in pred_enc
                        for k in (key, f"{key}_added", f"{key}_removed")
                    )
                    prev_known[key] = (
                        # thunk, not list: a pending (pre-encoded)
                        # append passes through without ever
                        # materializing the predecessor's full list;
                        # the encoder invokes it only when an entry
                        # actually needs diffing
                        (lambda p=pred, k=key: list(p[k]))
                        if enc_has and key in pred
                        else None
                    )
            tail_enc += _delta_encode_entries(
                new_entries,
                prev_known,
                boundary_id=(
                    None
                    if new_start == 0 or (tail_reset and not tail_enc)
                    else snaps_mem[new_start - 1].get("id")
                ),
            )
        # map keys already represented by a reused/rewritten segment:
        # key PRESENCE survives even when the tail has nothing to add
        covered: set[str] = set()
        for p in segs[: len(reuse)]:
            covered.update(p["maps"].keys())
        core_map_names = (plan or {}).get("core_maps", {})
        tail_maps: dict[str, dict] = {}
        for k, cur in maps_mem.items():
            if (
                isinstance(cur, _TrackedMap)
                and plan is not None
                and broke_at is None
            ):
                # O(delta) remainder: only entries NOT owned by a
                # kept segment can belong to the tail — entries ADDED
                # since assembly, the folded old tail's own entries,
                # and pre-segment core-level leftovers. Everything
                # else either lives unchanged in a clean segment or
                # was folded into a rewritten one ("kept"/owned).
                # ``plan is not None`` is load-bearing: a re-split
                # commit (plan popped by compact_manifest_segments,
                # or invalidated by a cross-table path) has NO
                # segments to own anything — the fast path there
                # would silently drop every pre-existing map entry
                # (/code-review r10, reproduced: file_rows 20 → 0
                # after a segment compaction).
                cand = set(cur._added)
                if folded is not None and k in folded["maps"]:
                    cand.update(folded["maps"][k])
                cand.update(core_map_names.get(k, ()))
                rest = {}
                holders = [cm[k] for cm in clean_maps if k in cm]
                for f in sorted(cand):
                    if f not in cur or f in owned[k]:
                        continue
                    if any(f in cm for cm in holders):
                        continue  # a clean segment still owns it
                    rest[f] = cur[f]
            else:
                # untracked map (replaced wholesale / legacy) or a
                # broken plan (re-split): full remainder walk, with
                # clean segments' ownership unioned on demand
                full_owned = set(owned[k])
                for cm in clean_maps:
                    full_owned.update(cm.get(k, ()))
                rest = {
                    f: v
                    for f, v in cur.items()
                    if f not in full_owned
                }
            if rest or k not in covered:
                tail_maps[k] = rest
        descs = reuse
        if tail_enc or tail_maps:
            name = f"seg-{uuid.uuid4().hex[:12]}.json"
            tail_content = {"snapshots": tail_enc, **tail_maps}
            data = json.dumps(
                tail_content, separators=(",", ":")
            ).encode()
            to_write.append((name, data))
            contents_by_name[name] = tail_content
            descs = reuse + [
                # an entry-less tail (map-only commit) must never
                # carry the reset flag: resets only describe entries
                # encoded from empty state, and a later commit
                # appending a tail BEHIND a reused empty-reset
                # segment would shift the decode reset onto entries
                # encoded against full state (ADVICE r10)
                {
                    "name": name,
                    "n": len(tail_enc),
                    "reset": tail_reset and bool(tail_enc),
                    "bytes": len(data),
                }
            ]
        # ---- write order: segments, then the generation CAS, then
        # the core (the atomic commit point), then reap replaced
        # segment files. All metadata bytes move through the FileIO
        # seam (sinks/fileio.py): atomic single-object puts + an
        # idempotent delete — the exact object-store primitive set.
        io = fileio_for(self.path)
        seg_dir = os.path.join(self.path, "_segments")
        if to_write:
            io.makedirs(seg_dir)
        for name, data in to_write:
            io.write_atomic(os.path.join(seg_dir, name), data)
        core["generation"] = self._cas_generation(
            int(core.get("generation") or 0)
        )
        core["segments"] = descs
        io.write_atomic(
            self.manifest_path, json.dumps(core, indent=1).encode()
        )
        for name in obsolete:
            io.delete(os.path.join(seg_dir, name))
        # seed the assembly cache with the state just committed: the
        # next read — usually this table's very next commit cycle or
        # streaming trigger — clones it instead of re-walking every
        # segment, keeping read+commit latency flat in history length
        old_by_name = {p["name"]: p for p in segs}
        new_plan_segs: list[dict] = []
        for dsc in descs:
            nm = dsc["name"]
            if nm in contents_by_name:
                content = contents_by_name[nm]
                enc = content["snapshots"][: dsc["n"]]
                new_plan_segs.append(
                    {
                        "name": nm,
                        "n": dsc["n"],
                        "reset": bool(dsc.get("reset")),
                        "bytes": dsc.get("bytes"),
                        "ids": [e.get("id") for e in enc],
                        "enc": enc,
                        "maps": {
                            k: content[k]
                            for k in _PER_FILE_KEYS
                            if k in content
                        },
                    }
                )
            else:
                new_plan_segs.append(old_by_name[nm])
        template = {
            k: v for k, v in core.items() if k != "segments"
        }
        # the read contract says every snapshot's ``files`` is
        # readable (keyless entries read as []); hand-built keyless
        # plain dicts (foreign writers, tests) satisfy it on a disk
        # read via the lazy wrapper — wrap them here the same way
        template["snapshots"] = [
            s
            if "files" in s
            else _LazySnapshot(
                s, _SnapshotChain([{}]), 0, frozenset({"files"})
            )
            for s in snaps_mem
        ]
        template.update(maps_mem)
        template[_SEG_PLAN_KEY] = {
            "path": self.path,
            "segments": new_plan_segs,
            # every pre-segment core-level map entry was folded into
            # the tail above, so nothing is core-owned anymore
            "core_maps": {},
        }
        _assembly_cache_put(
            self.path,
            _assembly_fingerprint(core),
            # a CLONE, so the caller mutating its manifest after this
            # commit returns can never pollute later reads
            _clone_assembled(template),
        )

    def _cas_generation(
        self, current: int, stale_after: float = 120.0
    ) -> int:
        """Claim the NEXT manifest generation with a put-if-absent
        marker (``_gens/gen-<n>``, O_EXCL create) — the compare-and-
        swap every object store offers (GCS ``if-generation-match``,
        S3 conditional PUT / If-None-Match), and the defense in depth
        the commit LOCK alone lacks: the lock's stale-break can fire
        on a slow-but-alive writer, and two writers each believing
        they hold the lock would silently last-write-wins the core.
        With the CAS, exactly one of them creates the generation
        marker; the loser raises CommitConflict instead of clobbering
        a committed manifest (the lost-update is detected BEFORE the
        core swap, so nothing is damaged).

        Crash arbitration: a marker whose generation the core never
        reached (winner died between marker and core swap) blocks
        that generation; past ``stale_after`` it is broken and
        re-claimed — the same recovery rule as the commit lock,
        scoped to one token. Old markers are reaped opportunistically
        (only generations ≤ the one the core has durably recorded)."""
        io = fileio_for(self.path)
        gens = os.path.join(self.path, "_gens")
        io.makedirs(gens)
        nxt = current + 1
        marker = os.path.join(gens, f"gen-{nxt}")

        def disk_generation() -> int:
            try:
                return int(
                    json.loads(io.read_bytes(self.manifest_path)).get(
                        "generation"
                    )
                    or 0
                )
            except (OSError, ValueError, TypeError):
                return 0

        while True:
            if io.put_if_absent(marker):
                # POST-WIN validation (review r9): the marker for an
                # already-committed generation may have been REAPED by
                # a later commit — put-if-absent then succeeds for a
                # stale writer whose base generation the table passed
                # long ago, and the conflict check in the lost-race
                # branch never runs. Re-read the durable generation
                # after claiming; losing here must surrender the
                # marker (it guards a generation that will never be
                # written).
                disk_gen = disk_generation()
                if disk_gen >= nxt:
                    io.delete(marker)
                    raise CommitConflict(
                        f"manifest advanced to generation {disk_gen} "
                        f"(this writer's base implies {nxt}); re-read "
                        "and retry"
                    )
                break
            else:
                # someone claimed this generation. If the CORE
                # already advanced to it, we lost a real race (a
                # broken-lock double-writer): conflict out. If the
                # core never advanced, the claimant crashed before
                # its swap — break the stale marker and retry.
                disk_gen = disk_generation()
                if disk_gen >= nxt:
                    raise CommitConflict(
                        f"manifest generation {nxt} was committed by "
                        "a concurrent writer (commit lock was broken "
                        "or bypassed); re-read and retry"
                    )
                try:
                    if time.time() - io.mtime(marker) > stale_after:
                        io.delete(marker)
                        continue
                except OSError:
                    continue  # claimant released between check/stat
                raise CommitConflict(
                    f"manifest generation {nxt} is claimed by an "
                    "in-flight writer; retry shortly"
                )
        # reap markers for generations the core has durably passed
        for name in io.list(gens):
            try:
                if int(name.rsplit("-", 1)[-1]) < current:
                    io.delete(os.path.join(gens, name))
            except ValueError:
                continue
        return nxt

    def _acquire_lock(
        self, timeout: float = 30.0, stale_after: float = 120.0
    ) -> str:
        """Commit mutex via O_EXCL lock file (works on any shared
        filesystem without extra services — on a real deployment this
        is the catalog's atomic swap). Locks older than
        ``stale_after`` are broken: a crashed writer must not wedge
        the table forever."""
        lock = os.path.join(self.path, "_commit.lock")
        os.makedirs(self.path, exist_ok=True)
        deadline = time.time() + timeout
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                return lock
            except FileExistsError:
                try:
                    if time.time() - os.path.getmtime(lock) > stale_after:
                        os.remove(lock)
                        continue
                except OSError:
                    continue  # holder released between check and stat
                if time.time() > deadline:
                    raise TimeoutError(f"commit lock busy: {lock}")
                time.sleep(0.05)

    def _locked_commit(
        self,
        operation: str,
        files: list[str],
        stats: dict,
        schema_json: str | None,
        expected_tail: int | None = ...,
        inherit_prev_files: bool = False,
        txn: tuple[str, int] | None = None,
        delete_files: list[str] | None = None,
        delete_meta: dict[str, dict] | None = None,
        data_change: bool = True,
    ) -> tuple[int, bool]:
        """Allocate the snapshot id and swap the manifest under the
        commit lock; returns ``(snapshot_id, committed)`` where
        ``committed`` is False iff the txn guard skipped the commit —
        the EXPLICIT signal callers must gate side effects (e.g.
        vector-index maintenance) on. Comparing snapshot ids read
        outside the lock is racy: a concurrent writer advancing the
        tail between the caller's read and a skipped replay makes the
        ids differ even though THIS commit wrote nothing, and the
        side effect would then index the replay's orphaned files as
        phantom rows. ``expected_tail`` (when not Ellipsis) asserts the
        table tail is unchanged since the caller read it — rewrites
        pass it; appends instead set ``inherit_prev_files`` and pick
        up whatever tail exists at commit time (appends commute).

        ``txn=(app_id, version)`` makes the commit IDEMPOTENT (the
        Iceberg/Delta transactional-sink pattern: streaming writers
        stamp each epoch): if this app_id has already committed this
        or a later version, the commit is skipped under the lock and
        the current tail id returns — a replayed streaming batch
        becomes a no-op instead of duplicate rows. Skipped commits may
        leave unreferenced data files behind; they are invisible to
        readers (manifest-driven scans) and reclaimable by an orphan
        sweep.

        ``delete_files`` is the FULL delete-file tail for the new
        snapshot (merge-on-read row-level deletes). None means: carry
        the previous tail's deletes for appends (a row deleted before
        an append stays deleted), empty for rewrites (a rewrite reads
        the delete-applied state, so the new files already exclude
        deleted rows — the deletes are materialized). ``delete_meta``
        adds per-delete-file metadata (kind / keys / applies_to)."""
        lock = self._acquire_lock()
        try:
            manifest = self._read_manifest()
            snaps = manifest["snapshots"]
            tail = snaps[-1]["id"] if snaps else None
            if txn is not None:
                app_id, version = txn
                seen = manifest.get("txns", {}).get(app_id)
                if seen is not None and seen >= version:
                    return tail, False
            if expected_tail is not ... and tail != expected_tail:
                raise CommitConflict(
                    f"table advanced to snapshot {tail} (expected "
                    f"{expected_tail}); re-read and retry the {operation}"
                )
            snap_id = self._next_id(manifest)
            lazy_append = inherit_prev_files and bool(snaps)
            fa_current = (
                bool(snaps)
                and manifest.get("file_added_at_tail") == tail
            )
            if lazy_append:
                # lock-authoritative duplicate guard: two racing
                # add_files of the same external paths both pass the
                # pre-lock check; the second would double-reference
                # the files (2× row_count, duplicated reads).
                # O(k) fast path: with the stamp watermark current,
                # every file in the tail has a file_added_at entry,
                # so a file absent there is provably not in the tail
                # — only candidates that ARE stamped (possibly dead,
                # possibly live) need the full tail-set check.
                fa_map = manifest.get("file_added_at", {})
                cand = (
                    [f for f in files if f in fa_map]
                    if fa_current
                    else files
                )
                if cand:
                    dup = set(cand) & set(snaps[-1]["files"])
                    if dup:
                        raise ValueError(
                            f"already registered: {sorted(dup)[:3]}"
                        )
            # appends never materialize the combined list: the entry
            # decodes (predecessor + files) lazily, and the encoder
            # passes the recorded delta straight through
            all_files = None if lazy_append else files
            prev_deletes = (
                snaps[-1].get("deletes", []) if snaps else []
            )
            if delete_files is None:
                tail_deletes = (
                    list(prev_deletes) if inherit_prev_files else []
                )
            else:
                tail_deletes = list(delete_files)
            manifest.setdefault("file_stats", {}).update(stats)
            known_rows = manifest.setdefault("file_rows", {})
            known_rows.update(
                self._file_row_counts(
                    [f for f in files if f not in known_rows]
                )
            )
            # byte size per file (Iceberg manifests record
            # file_size_in_bytes): drives the streaming source's
            # maxBytesPerTrigger and size-aware maintenance without
            # any filesystem round-trip at plan time
            known_sizes = manifest.setdefault("file_sizes", {})
            known_sizes.update(
                self._file_sizes(
                    [f for f in files if f not in known_sizes]
                )
            )
            prev_delete_set = set(prev_deletes)
            new_deletes = [
                d for d in tail_deletes if d not in prev_delete_set
            ]
            if new_deletes:
                # delete files carry footer row counts too: row_count()
                # subtracts position-delete rows without a scan
                known_rows.update(self._file_row_counts(new_deletes))
            if delete_meta:
                manifest.setdefault("delete_meta", {}).update(delete_meta)
            # Per-file add-order watermark, the equality-delete scope:
            # a delete at snapshot D applies only to files with
            # added_at <= D's applies_to. New files stamp at THIS
            # snapshot; inherited files missing a stamp (pre-feature
            # history, branch-spliced commits) existed at or before
            # the previous tail, so backfill there — never at snap_id,
            # which would wrongly shield them from an equality delete
            # committing right now against the previous tail.
            # ``file_added_at_tail`` records the tail snapshot through
            # which completeness has been VERIFIED: while it matches,
            # only the new files need stamping (O(delta), not O(live));
            # any commit path that bypasses this stamp (branch splice,
            # hand-built manifests) leaves the watermark behind and
            # the next commit heals with the full backfill walk.
            fa = manifest.setdefault("file_added_at", {})
            new_set = set(files)
            if fa_current or not snaps:
                for f in files:
                    if f not in fa:
                        fa[f] = snap_id
            else:
                backfill = (
                    list(snaps[-1]["files"]) + files
                    if lazy_append
                    else all_files
                )
                for f in backfill:
                    if f not in fa:
                        fa[f] = snap_id if f in new_set else (tail or 0)
            manifest["file_added_at_tail"] = snap_id
            # manifest-authoritative spec: only seed it when absent —
            # an instance constructed before evolve_partition_spec ran
            # must not clobber the evolved spec back (its files still
            # commit fine: layout is per-file)
            if self.partition_by and "partition_by" not in manifest:
                manifest["partition_by"] = self.partition_by
                self._record_transforms(manifest, self.partition_by)
            self._record_file_partitions(manifest, files)
            if lazy_append:
                # the predecessor's own summary count carries the
                # live-file total forward without a decode; legacy
                # entries (no summary) pay the one-time decode and
                # every commit after that rides the derived count
                pred = snaps[-1]
                pred_total = dict.get(pred, "summary", {}).get(
                    "total_files"
                )
                if pred_total is None:
                    pred_total = len(pred["files"])
                total_files = pred_total + len(files)
            else:
                total_files = len(all_files)
            storage = {
                "id": snap_id,
                "operation": operation,
                "ts": time.time(),
                # Iceberg snapshot summary: what this commit did, from
                # metadata already in hand (footer counts) — history()
                # answers "how big was that load" without any scan.
                # added_* only when files really are additions on top
                # of the previous tail; full-set ops (overwrite/
                # replace/rollback/CoW rewrites) report written_* —
                # calling a compaction's whole file set "added" would
                # make load-size audits wrong for every rewrite
                "summary": {
                    "total_files": total_files,
                    **(
                        {
                            "added_files": len(files),
                            "added_rows": sum(
                                known_rows.get(f, 0) for f in files
                            ),
                        }
                        if inherit_prev_files
                        else {
                            "written_files": len(files),
                            "written_rows": sum(
                                known_rows.get(f, 0) for f in files
                            ),
                        }
                    ),
                },
            }
            if lazy_append:
                # the new tail entry is LAZY: its file list is
                # (predecessor + files), recorded as one chain delta
                # and materialized only if someone reads it — the
                # commit itself never holds the O(live) list
                # (VERDICT r10 item 4)
                pred = snaps[-1]
                # private 2-entry chain rooted at the predecessor via
                # ``lazyfull``: no decode now, no mutation of a chain
                # other snapshots (or assembly-cache clones) share
                chain = _SnapshotChain(
                    [
                        {"files": ("lazyfull", pred)},
                        {"files": ("delta", list(files), [])},
                    ]
                )
                entry = _LazySnapshot(
                    storage, chain, 1, frozenset({"files"})
                )
                # pred_id anchors the pass-through to THIS
                # predecessor: a later re-encode behind a different
                # base (interior expiry) must diff, not pass through
                deltas = {"files": (list(files), [])}
                if tail_deletes:
                    dict.__setitem__(entry, "deletes", tail_deletes)
                    np_ = len(prev_deletes)
                    if tail_deletes[:np_] == prev_deletes:
                        deltas["deletes"] = (
                            tail_deletes[np_:],
                            [],
                        )
                    else:
                        # tail not an extension of the predecessor's:
                        # no exact delta in hand — let the encoder diff
                        deltas = None
                if deltas is not None:
                    entry._pending = {
                        "pred_id": tail,
                        "deltas": deltas,
                    }
            else:
                entry = dict(storage)
                entry["files"] = all_files
                if tail_deletes:
                    entry["deletes"] = tail_deletes
            if not data_change:
                # Delta's dataChange=false: this commit rearranges
                # bytes (compaction / delete materialization) but
                # preserves the logical row set — incremental and
                # streaming consumers SKIP it instead of breaking
                # lineage. Only recorded when False so legacy
                # manifests and append-heavy histories stay lean.
                entry["data_change"] = False
            manifest["snapshots"].append(entry)
            if schema_json is not None:
                self._guard_schema_transform_clash(manifest, schema_json)
                if inherit_prev_files:
                    # old files stay LIVE in this snapshot: the new
                    # schema must be readable over their physical
                    # types — only READ-safe promotions may evolve
                    # metadata-only (rewrites replace the files, so
                    # they skip this; their history needs
                    # use_snapshot_schema for pre-rewrite travel)
                    self._guard_readable_promotion(
                        manifest.get("schema"), schema_json
                    )
                if manifest.get("schema") != schema_json:
                    # schema LOG (Iceberg's schema-id history): every
                    # distinct committed schema records the snapshot
                    # it took effect at, so time travel can read with
                    # the schema AS OF that snapshot (read(...,
                    # use_snapshot_schema=True))
                    manifest.setdefault("schema_log", []).append(
                        {"at": snap_id, "schema": schema_json}
                    )
                manifest["schema"] = schema_json
            if txn is not None:
                manifest.setdefault("txns", {})[txn[0]] = txn[1]
            # Ops that change LOGICAL row content (not append: adds
            # rows; not replace/compact: same rows, new files) make any
            # vector index built earlier stale — record the high-water
            # mark so probes can detect it even after snapshot expiry.
            if operation in (
                "overwrite", "merge", "delete", "update", "rollback"
            ):
                manifest["last_row_rewrite_snapshot"] = snap_id
            self._commit(manifest)
            return snap_id, True
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass

    @property
    def snapshots(self) -> list[dict]:
        return self._read_manifest()["snapshots"]

    def current_snapshot_id(self) -> int | None:
        snaps = self.snapshots
        return snaps[-1]["id"] if snaps else None

    def last_txn_version(self, app_id: str) -> int | None:
        """Highest committed transaction version for a writer app id
        (cheap pre-check; the authoritative skip happens under the
        commit lock in _locked_commit)."""
        return self._read_manifest().get("txns", {}).get(app_id)

    # ----------------------------------------------- vector indexes

    def vector_index_meta(self) -> dict[str, dict]:
        """Registered vector indexes (operators/vector_index.py):
        column → {path, id_col, planes, dim, indexed_snapshot}."""
        return self._read_manifest().get("vector_indexes", {})

    def last_row_rewrite_snapshot(self) -> int | None:
        """Snapshot id of the most recent commit that changed logical
        row content in place (overwrite/merge/delete/update/rollback —
        NOT append, which only adds, or replace/compact, which keeps
        rows identical). A vector index whose ``indexed_snapshot``
        predates this is stale: probes could return deleted rows,
        pre-update vectors, or duplicate ids. Survives snapshot expiry
        (it's a manifest high-water mark, not a history walk)."""
        return self._read_manifest().get("last_row_rewrite_snapshot")

    def set_vector_index_meta(self, vec_col: str, meta: dict) -> None:
        lock = self._acquire_lock()
        try:
            manifest = self._read_manifest()
            manifest.setdefault("vector_indexes", {})[vec_col] = meta
            self._commit(manifest)
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass

    # ----------------------------------------------------------- writes

    def _write_data(
        self, df: DataFrame, spec: list[str] | None | str = "unset"
    ) -> list[str]:
        # uuid dir, not snapshot-id dir: two concurrent writers must
        # never target the same directory (ids are only assigned at
        # commit time, under the lock)
        out = os.path.join(self.path, "data", f"snap-{uuid.uuid4().hex[:12]}")
        # spec="unset" (the default) resolves the manifest-current
        # spec; callers that already hold a freshly read manifest pass
        # its value through to skip the redundant manifest parse
        if spec == "unset":
            spec = self._current_spec()
        part_cols = []
        if spec:
            entries = [_parse_spec_entry(x) for x in spec]
            missing = {e["src"] for e in entries} - set(df.columns)
            if missing:
                raise ValueError(f"partition columns missing: {missing}")
            for e in entries:
                if e["kind"] != "identity":
                    if e["name"] in df.columns:
                        raise ValueError(
                            f"derived partition column {e['name']!r} "
                            "collides with a data column"
                        )
                    # hidden: the derived value lands in the hive path
                    # only — partitionBy removes it from the data files
                    # and reads never surface it
                    df = df.withColumn(e["name"], _transform_expr(e))
            part_cols = [e["name"] for e in entries]
        w = df.write.mode("overwrite")
        if part_cols:
            w = w.partitionBy(*part_cols)
        w.parquet(out)
        found = []
        for root, _dirs, names in os.walk(out):
            found += [
                os.path.join(root, n)
                for n in names
                if n.endswith(".parquet")
            ]
        return sorted(found)

    def _partition_values(self, path: str) -> dict[str, str | None]:
        """Hive path segments (col=value) → raw partition values.
        Spark percent-escapes special chars in values and writes NULL
        as __HIVE_DEFAULT_PARTITION__ (kept as None: never pruned).

        Parses every hive segment BELOW the file's ``snap-*`` staging
        dir rather than filtering to the instance's spec: with
        partition-spec evolution (F31) each file's layout is whatever
        spec was current when it was written, and the manifest records
        it per file. Segments above the staging dir (a table path that
        happens to contain '=') are never partition values."""
        from urllib.parse import unquote

        segs = path.split(os.sep)
        snap_idx = -1
        for j, s in enumerate(segs):
            if s.startswith("snap-"):
                snap_idx = j
        vals: dict[str, str | None] = {}
        for seg in segs[snap_idx + 1 :]:
            if "=" not in seg:
                continue
            col, _, raw = seg.partition("=")
            raw = unquote(raw)
            vals[col] = (
                None if raw == "__HIVE_DEFAULT_PARTITION__" else raw
            )
        return vals

    @staticmethod
    def _guard_readable_promotion(
        old_json: str | None, new_json: str | None
    ) -> None:
        """Reject a schema evolution whose live old files could not
        be READ under the new types: the parquet scan only upcasts
        the READ_SAFE_WIDENINGS pairs (probe-verified; Iceberg's
        type-promotion rules); BIGINT->DOUBLE / DATE->TIMESTAMP etc.
        are fine as incoming-data CASTS but would crash every read of
        files keeping the narrower physical type — fail the commit
        loudly with the rewrite guidance instead of committing an
        unreadable table."""
        if not old_json or not new_json or old_json == new_json:
            return
        from biglake_iceberg_pipeline_spark.operators.schema_evolution import (  # noqa: E501
            READ_SAFE_WIDENINGS,
            normalize_type,
        )

        from pyspark.sql.types import StructType

        old_s = {
            f.name: normalize_type(f.dataType.simpleString())
            for f in StructType.fromJson(json.loads(old_json)).fields
        }
        new_s = {
            f.name: normalize_type(f.dataType.simpleString())
            for f in StructType.fromJson(json.loads(new_json)).fields
        }
        bad = [
            (c, o, n)
            for c, o in old_s.items()
            if (n := new_s.get(c)) is not None
            and n != o
            and (o, n) not in READ_SAFE_WIDENINGS
        ]
        if bad:
            raise ValueError(
                f"schema change {bad} is not metadata-only readable: "
                "files keeping the narrower physical type cannot be "
                "scanned under the new type (parquet reader limit; "
                "Iceberg refuses the same promotions). Cast the "
                "incoming data to the CURRENT type, or rewrite the "
                "table (merge/overwrite/compact) to change it."
            )

    @staticmethod
    def _guard_schema_transform_clash(
        manifest: dict, schema_json: str
    ) -> None:
        """A data column must never take a (possibly retired) derived
        hive column's name: per-group schema reads would then fill it
        from the PATH on old vintages — surfacing the hidden value
        where the add-column contract promises NULL."""
        names = {
            f["name"] for f in json.loads(schema_json)["fields"]
        }
        clash = names & set(manifest.get("partition_transforms", {}))
        if clash:
            raise ValueError(
                f"columns {clash} collide with hidden-partition "
                "derived names (current or retired)"
            )
        # same resurrection hazard for RETIRED column names (renamed
        # away or dropped): live files still store bytes under them,
        # and the name-based overlay would surface those bytes where
        # the add-column contract promises NULL
        prev = manifest.get("schema")
        prev_names = (
            {f["name"] for f in json.loads(prev)["fields"]}
            if prev
            else set()
        )
        retired = (names - prev_names) & LakehouseTable._historical_names(
            manifest
        )
        if retired:
            raise ValueError(
                f"columns {retired} reuse RETIRED names (renamed "
                "away or dropped); live data files may still store "
                "bytes under them — pick fresh names"
            )

    @staticmethod
    def _record_transforms(manifest: dict, spec) -> None:
        """Register a spec's transform entries (derived hive column →
        {src, kind, param}) so pruning can map source-column
        predicates to derived path values FOREVER — files written
        under an old spec keep pruning after any number of
        evolutions, so entries accumulate and are never removed."""
        for x in spec or ():
            e = _parse_spec_entry(x)
            if e["kind"] != "identity":
                manifest.setdefault("partition_transforms", {})[
                    e["name"]
                ] = {
                    "src": e["src"],
                    "kind": e["kind"],
                    "param": e["param"],
                }

    def _record_file_partitions(
        self, manifest: dict, files: list[str]
    ) -> None:
        """Record each new file's own hive-path values (the per-file
        partition spec pruning and analysis consult). Shared by the
        main commit path and branch staging so the two can't diverge."""
        if not (manifest.get("partition_by") or self.partition_by):
            return
        fp = manifest.setdefault("file_partitions", {})
        for f in files:
            if not self._owns(f):
                # externally registered files (add_files): arbitrary
                # '=' in their paths is not a trusted hive layout
                continue
            vals = self._partition_values(f)
            if vals:
                fp[f] = vals

    def _current_spec(self) -> list[str] | None:
        """The partition spec new writes use: the manifest's (which
        ``evolve_partition_spec`` updates — so even an instance
        constructed before an evolution writes the CURRENT layout),
        falling back to the constructor's for tables with no manifest
        spec recorded yet."""
        m = self._read_manifest()
        if "partition_by" in m:
            return m["partition_by"] or None
        return self.partition_by

    @staticmethod
    def _meta_cols(df: DataFrame) -> DataFrame:
        """Project the hidden ``_metadata`` struct into ``__file``
        (scheme-stripped, PERCENT-DECODED path, matching the raw
        manifest paths) and ``__pos`` (row index within the file) —
        the coordinates merge-on-read position deletes are keyed by.

        ``_metadata.file_path`` is a Hadoop Path URI: spaces and
        special characters (a table dir with a space, a hive
        partition value needing escaping) arrive percent-encoded,
        while the manifest stores raw os paths — comparing them
        un-decoded silently voids no rows. ``url_decode`` is
        form-decoding ('+' → space), but Hadoop leaves literal '+'
        unencoded in the URI, so '+' is pre-escaped to %2B first;
        a raw '%' never appears un-encoded in the URI (Hadoop writes
        %25), so the decode cannot throw."""
        return df.select(
            "*",
            F.url_decode(
                F.regexp_replace(
                    F.regexp_replace(
                        F.col("_metadata.file_path"), r"^file:/+", "/"
                    ),
                    r"\+",
                    "%2B",
                )
            ).alias("__file"),
            F.col("_metadata.row_index").alias("__pos"),
        )

    def _read_files(
        self,
        spark: SparkSession,
        files: list[str],
        schema_json: str | None = None,
        with_meta: bool = False,
        renames=...,
    ) -> DataFrame:
        """Open an explicit manifest file list. Unpartitioned: plain
        multi-file read. Partitioned: group by snapshot dir and read
        each group with basePath so Spark's partition discovery
        restores the hive-path columns, then cast them back to the
        committed schema (discovery would re-infer types per group).
        ``schema_json`` overrides the overlay schema (branch reads:
        a branch may have evolved past the main-line schema).
        ``with_meta`` carries ``__file``/``__pos`` through for the
        merge-on-read delete overlay.

        With partition-spec evolution (F31) a file list can mix
        LAYOUTS: each snapshot dir was written under one spec, and
        basePath discovery restores exactly the hive columns that dir
        has — a column that is path-encoded in one group is a data
        column in another, and the union aligns them by name. The
        partition-column set is therefore the UNION across the
        requested files' recorded specs plus the current one."""
        manifest_cache: dict | None = None

        def _manifest() -> dict:
            nonlocal manifest_cache
            if manifest_cache is None:
                manifest_cache = self._read_manifest()
            return manifest_cache

        part_cols: set[str] = set(self.partition_by or ())
        if self.partition_by is not None or files:
            m = _manifest()
            spec = m.get("partition_by")
            part_cols |= set(spec or ())
            fparts = m.get("file_partitions", {})
            for f in files:
                part_cols |= fparts.get(f, {}).keys()
        if not part_cols:
            # Overlay the committed (possibly evolved) schema: files
            # written before an add-column/widen commit then surface
            # NULL / upcast values — Spark's parquet reader fills
            # missing columns and widens in the scan, no rewrite.
            # Renamed columns additionally read their PRIOR names
            # (each file stores exactly one vintage) and coalesce —
            # rename is metadata-only, never a rewrite.
            if schema_json is None:
                schema_json = _manifest().get("schema")
            if schema_json:
                from pyspark.sql.types import StructType

                committed = StructType.fromJson(json.loads(schema_json))
                read_schema, rename_sel = _augment_for_renames(
                    committed,
                    column_rename_map(_manifest())
                    if renames is ...
                    else renames,
                )
                out = spark.read.schema(read_schema).parquet(*files)
                if with_meta:
                    out = self._meta_cols(out)
                if rename_sel:
                    out = out.select(
                        *[
                            (
                                F.coalesce(
                                    F.col(fld.name),
                                    *[
                                        F.col(p)
                                        for p in rename_sel[fld.name]
                                    ],
                                )
                                if fld.name in rename_sel
                                else F.col(fld.name)
                            ).alias(fld.name)
                            for fld in committed.fields
                        ],
                        *(["__file", "__pos"] if with_meta else []),
                    )
                return out
            out = spark.read.parquet(*files)
            return self._meta_cols(out) if with_meta else out
        from collections import defaultdict

        from pyspark.sql.types import StructType

        groups: dict[str, list[str]] = defaultdict(list)
        for f in files:
            if not self._owns(f):
                # externally registered file (add_files): group by its
                # own dir so hive discovery never climbs its path —
                # ownership is the discriminator, not directory names
                # (an external path may legitimately contain snap-*
                # or col=value segments that are NOT table layout)
                groups[os.path.dirname(f)].append(f)
                continue
            d = f
            while not os.path.basename(d).startswith("snap-"):
                parent = os.path.dirname(d)
                if parent == d or not parent:
                    d = os.path.dirname(f)
                    break
                d = parent
            groups[d].append(f)
        # the overlay schema honors the same override as the
        # unpartitioned path (branch reads on a partitioned table —
        # possibly before any MAIN commit, when the manifest schema
        # is still None)
        if schema_json is None:
            schema_json = _manifest().get("schema")
        committed = (
            StructType.fromJson(json.loads(schema_json))
            if schema_json
            else None
        )
        read_schema, rename_sel = (
            _augment_for_renames(
                committed,
                column_rename_map(_manifest())
                if renames is ...
                else renames,
            )
            if committed is not None
            else (None, None)
        )
        part_types = {
            fld.name: fld.dataType
            for fld in (committed.fields if committed else [])
            if fld.name in part_cols
        }
        parts = []
        for base, fs in sorted(groups.items()):
            reader = spark.read.option("basePath", base)
            if committed is not None:
                # declare the committed schema: hive-path columns cast
                # from the RAW segment string straight to the declared
                # type — never through partition-type INFERENCE, whose
                # round-trip corrupts numeric-looking strings
                # ('01' → int 1 → '1') and would make the same value
                # differ between a vintage where the column is
                # path-encoded and one where it is a data column
                reader = reader.schema(read_schema)
            df = reader.parquet(*fs)
            if with_meta:
                df = self._meta_cols(df)
            if committed is None:
                # no committed schema yet: cast inferred partition
                # cols per group BEFORE the union; a group written
                # under a DIFFERENT spec simply lacks the column
                # (it is a data column there, already typed, or absent)
                for col, typ in part_types.items():
                    if col in df.columns:
                        df = df.withColumn(col, F.col(col).cast(typ))
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        if committed is not None:
            # full overlay, matching the unpartitioned path: files
            # predating an add-column commit surface NULL, widened
            # columns upcast, renamed columns coalesce across their
            # name vintages, column order follows the schema
            def _ov(fld):
                priors = [
                    p
                    for p in (rename_sel or {}).get(fld.name, ())
                    if p in out.columns
                ]
                if fld.name in out.columns:
                    e = F.col(fld.name).cast(fld.dataType)
                    if priors:
                        e = F.coalesce(
                            e, *[F.col(p) for p in priors]
                        )
                elif priors:
                    e = F.coalesce(*[F.col(p) for p in priors])
                else:
                    e = F.lit(None).cast(fld.dataType)
                return e.alias(fld.name)

            out = out.select(
                *[_ov(fld) for fld in committed.fields],
                *(["__file", "__pos"] if with_meta else []),
            )
        return out

    @staticmethod
    def _footer_map(files: list[str], fn):
        """{file: fn(file)} over parquet footers. Sequential below 64
        files; a thread pool above (footer reads are I/O round-trips
        with the GIL released inside pyarrow — a 100k-file add_files
        migration must not serialize them one at a time on the
        driver). Results keyed by file, so order never matters."""
        if len(files) <= 64:
            return {f: fn(f) for f in files}
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=16) as pool:
            return dict(zip(files, pool.map(fn, files)))

    @staticmethod
    def _file_stats(files: list[str]) -> dict[str, dict[str, list]]:
        """Per-file column min/max from the parquet footers (numeric
        and string columns) — the manifest-level stats Iceberg keeps in
        its manifest files. Footer-only reads: no data pages touched,
        so stats collection is O(files), not O(rows); parallel past 64
        files (see _footer_map)."""
        import pyarrow.parquet as pq

        def one(path: str) -> dict[str, list]:
            meta = pq.ParquetFile(path).metadata
            per_col: dict[str, list] = {}
            for rg_i in range(meta.num_row_groups):
                rg = meta.row_group(rg_i)
                for c_i in range(rg.num_columns):
                    col = rg.column(c_i)
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        continue
                    lo, hi = st.min, st.max
                    if not isinstance(lo, (int, float, str)) or isinstance(
                        lo, bool
                    ):
                        continue
                    name = col.path_in_schema
                    if name in per_col:
                        per_col[name] = [
                            min(per_col[name][0], lo),
                            max(per_col[name][1], hi),
                        ]
                    else:
                        per_col[name] = [lo, hi]
            return per_col

        return LakehouseTable._footer_map(files, one)

    @staticmethod
    def _file_row_counts(files: list[str]) -> dict[str, int]:
        """Record count per file from the parquet footer (metadata
        only, no data pages) — the per-file record counts Iceberg
        keeps in its manifests; lets row_count() answer without a
        scan."""
        import pyarrow.parquet as pq

        def one(path: str):
            try:
                return pq.ParquetFile(path).metadata.num_rows
            except OSError:
                return None

        got = LakehouseTable._footer_map(files, one)
        return {f: n for f, n in got.items() if n is not None}

    @staticmethod
    def _file_sizes(files: list[str]) -> dict[str, int]:
        """Byte size per file (stat only; parallel past 64 files like
        the footer reads)."""

        def one(path: str):
            try:
                return os.path.getsize(path)
            except OSError:
                return None

        got = LakehouseTable._footer_map(files, one)
        return {f: n for f, n in got.items() if n is not None}

    def row_count(self, snapshot_id: int | None = None) -> int | None:
        """Table row count from manifest metadata — O(1) manifest
        read, no scan. None when any file predates row-count tracking
        (fall back to read().count() there).

        Merge-on-read deletes: position-delete rows subtract EXACTLY
        (each names one live row — the delete scan runs against the
        delete-applied state, so a row is never deleted twice);
        outstanding EQUALITY deletes make the count unknowable from
        metadata (how many older rows match the keys needs a scan) —
        None until compaction materializes them."""
        manifest = self._read_manifest()
        if not manifest["snapshots"]:
            return 0
        snap = _snapshot(manifest, snapshot_id)
        rows = manifest.get("file_rows", {})
        total = 0
        for f in snap["files"]:
            if f not in rows:
                return None
            total += rows[f]
        dmeta = manifest.get("delete_meta", {})
        for d in snap.get("deletes", []):
            kind = delete_kind(manifest, d)
            if kind == "dv":
                # deletion vector: the blob file's parquet row count
                # is #affected files; the voided-position total was
                # recorded at rewrite time — still metadata-exact
                dv_rows = dmeta.get(d, {}).get("rows")
                if dv_rows is None:
                    return None
                total -= dv_rows
                continue
            if kind != "position":
                return None
            if d not in rows:
                return None
            total -= rows[d]
        return total

    def _next_id(self, manifest: dict) -> int:
        snaps = manifest["snapshots"]
        return (snaps[-1]["id"] + 1) if snaps else 1

    @staticmethod
    def _reshape_for_sort_order(
        df: DataFrame, order: list[str] | None
    ) -> DataFrame:
        """Declared write sort order (set_sort_order): range-
        distribute + local sort so each new file covers a narrow key
        range and footer stats prune reads — clustering paid at write
        time, once, instead of a compact(sort_by=) rewrite later.
        Output file count follows spark.sql.shuffle.partitions;
        maintain()'s size-aware trigger re-bins small appends. Shared
        by append() and overwrite_where() (ADVICE r8: partition
        reloads used to write survivors/incoming unclustered,
        silently de-clustering a sorted table)."""
        if order:
            cols = [c for c in order if c in df.columns]
            if cols:
                df = df.repartitionByRange(
                    *cols
                ).sortWithinPartitions(*cols)
        return df

    def append(
        self, df: DataFrame, txn: tuple[str, int] | None = None
    ) -> int:
        """Append with loader-style schema evolution (reference
        loader's create-or-append): incompatible columns raise;
        incoming-only columns are ADDED to the table schema; wider
        incoming types WIDEN the table schema. Old data files stay as
        written — the read path overlays the committed (evolved)
        schema, so historical rows surface NULL for added columns and
        upcast values for widened ones (Iceberg's metadata-only
        evolution; no rewrite)."""
        manifest = self._read_manifest()
        if manifest["schema"] is not None and manifest["snapshots"]:
            from pyspark.sql.types import StructType

            spark = df.sparkSession
            # align against the COMMITTED schema (the authoritative
            # shape reads overlay), not a re-scan of every live
            # file's footer — an append must cost O(new data), and
            # the committed schema already unions all historical
            # file schemas by the evolution contract
            target = spark.createDataFrame(
                [],
                StructType.fromJson(json.loads(manifest["schema"])),
            )
            df = align_for_append(df, target)
        df = self._reshape_for_sort_order(
            df, manifest.get("sort_order")
        )
        files = self._write_data(df)
        return self._publish_append_files(
            df.sparkSession, files, df.schema.json(), txn
        )

    def add_files(
        self,
        spark: SparkSession,
        paths: list[str] | str,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Register EXISTING parquet files into the table WITHOUT
        copying or rewriting a byte (Iceberg's add_files procedure —
        the migration path: onboarding 100 TB of already-written
        parquet must be a metadata operation, not an ingest). Accepts
        file paths or directories (recursed for ``*.parquet``).

        The table records footer stats/row counts for the new files
        (pruning and ``row_count()`` work like any append) and its
        schema evolves to cover theirs (add/widen; incompatible types
        raise) — reads overlay the committed schema, so files missing
        a column surface NULL. Ownership is NOT taken: GC/expiry only
        ever delete files under the table's own directory, so expiring
        history never destroys the registered originals (``compact``
        later materializes them into owned storage if wanted). Files
        already referenced by the current snapshot are rejected —
        re-registration would double-count rows."""
        if isinstance(paths, str):
            paths = [paths]
        files: list[str] = []
        for p in paths:
            if os.path.isdir(p):
                for root, _dirs, names in os.walk(p):
                    files += [
                        os.path.join(root, n)
                        for n in names
                        if n.endswith(".parquet")
                    ]
            else:
                files.append(p)
        # realpath, not abspath: a symlink to an already-registered
        # file must hit the duplicate guard (and _owns compares
        # realpaths too)
        files = sorted(set(os.path.realpath(f) for f in files))
        if not files:
            raise ValueError("no parquet files to register")
        missing = [f for f in files if not os.path.isfile(f)]
        if missing:
            raise ValueError(f"not a file: {missing[:3]}")
        manifest = self._read_manifest()
        snaps = manifest["snapshots"]
        if txn is not None:
            # pre-check the txn stamp BEFORE the duplicate guard: a
            # replayed migration epoch re-offers the same paths, which
            # must no-op, not error (the authoritative skip still runs
            # under the commit lock)
            seen = manifest.get("txns", {}).get(txn[0])
            if seen is not None and seen >= txn[1]:
                return snaps[-1]["id"] if snaps else None
        if snaps:
            # fast, friendly error; the RACE-authoritative re-check
            # runs under the commit lock in _locked_commit
            dup = set(files) & set(snaps[-1]["files"])
            if dup:
                raise ValueError(
                    f"already registered: {sorted(dup)[:3]}"
                )
        # mergeSchema: migration directories routinely hold DRIFTED
        # schemas across files — single-footer inference would drop
        # columns silently (and later reads could hit unsafe casts);
        # merging also fails fast here on truly incompatible files
        incoming = (
            spark.read.option("mergeSchema", "true")
            .parquet(*files)
            .schema
        )
        if manifest["schema"] is not None:
            from pyspark.sql.types import StructType

            current = StructType.fromJson(
                json.loads(manifest["schema"])
            )
            evolved = evolve_schema(
                spark.createDataFrame([], incoming),
                spark.createDataFrame([], current),
            )
            schema_json = evolved.json()
        else:
            schema_json = incoming.json()
        return self._publish_append_files(
            spark, files, schema_json, txn
        )

    def overwrite(
        self, df: DataFrame, txn: tuple[str, int] | None = None
    ) -> int:
        # overwrite replaces whatever the tail is — no read-state
        # dependency, so no conflict check (last overwrite wins).
        # ``txn`` stamps the writer watermark in the SAME manifest
        # commit (matview full recompute: result + watermark land
        # atomically, one commit instead of overwrite + stamp).
        files = self._write_data(df)
        snap, committed = self._locked_commit(
            "overwrite",
            files,
            self._file_stats(files),
            df.schema.json(),
            txn=txn,
        )
        if committed:
            self._fire_commit_hooks("overwrite", snap)
        return snap

    def overwrite_where(
        self,
        spark: SparkSession,
        condition,
        df: DataFrame,
        ranges: dict[str, tuple] | None = None,
    ) -> int:
        """Atomic predicate-scoped overwrite (Delta ``replaceWhere``
        / Iceberg's overwrite-by-filter; the reference delegates this
        shape to BigQuery MERGE over a partition): delete every
        current row matching ``condition`` and insert ``df``'s rows,
        as ONE 'replace' snapshot — the daily partition-reload shape
        with no delete-then-append window where readers see neither
        the old day nor the new one.

        Scale shape: ``ranges`` (same form as ``scan``; must be
        IMPLIED by ``condition`` — rows matching the condition in
        files the ranges exclude are NOT replaced) prunes the files
        scanned for matches via manifest stats + partition values;
        non-intersecting files CARRY OVER untouched, so replacing one
        partition costs O(that partition), never O(table). Rows where
        the condition is NULL are kept (three-valued logic never
        deletes).

        Validation (the Delta replaceWhere rule): every incoming row
        must satisfy ``condition`` — a violating row would land
        OUTSIDE the replaced region, where a replayed reload could
        not replace it back out; violators raise before anything is
        written.

        Merge-on-read delete tails compose: candidate files scan
        delete-APPLIED (a deleted row can't survive into the
        rewrite), and the tail carries for the untouched files —
        rewritten files get fresh paths and add-watermarks, so stale
        position entries match nothing and equality entries stay
        scoped to genuinely-old files. Conflict-checked like every
        rewrite (CommitConflict on a concurrent tail advance)."""
        import shutil

        manifest = self._read_manifest()
        snaps = manifest["snapshots"]
        if not snaps:
            raise ValueError("empty table — use append()")
        snap = snaps[-1]
        base = snap["id"]
        if isinstance(condition, str):
            condition = F.expr(condition)
        matched = F.coalesce(condition, F.lit(False))
        # loader-style schema evolution, like append: incoming-only
        # columns ADD, wider types WIDEN; carried/survivor files
        # surface NULL via the committed-schema read overlay
        if manifest["schema"] is not None:
            target = self._read_files(spark, snap["files"])
            df = align_for_append(df, target)
        # Stage the incoming rows ONCE, flat, then validate the
        # STAGED bytes (the _update_mor pattern): validating the live
        # DataFrame would evaluate an arbitrarily expensive reload
        # pipeline twice — and a nondeterministic source could pass
        # the validation action yet write condition-violating rows in
        # the second evaluation, landing them outside the replaced
        # region where a re-run could never replace them out. A crash
        # leaves an unreferenced staging dir the orphan sweep
        # reclaims.
        stage = os.path.join(
            self.path, "data", f"snap-{uuid.uuid4().hex[:12]}-rw"
        )
        df.write.mode("overwrite").parquet(stage)
        spec = manifest.get("partition_by", self.partition_by)
        try:
            staged = spark.read.schema(df.schema).parquet(stage)
            if staged.where(~matched).limit(1).count() > 0:
                raise ValueError(
                    "overwrite_where: every incoming row must "
                    "satisfy the replace condition (Delta "
                    "replaceWhere validation) — a row outside it "
                    "could never be replaced back out by a re-run"
                )
            current = set(snap["files"])
            cand = (
                [
                    f
                    for f in self.pruned_files(ranges, base)
                    if f in current
                ]
                if ranges is not None
                else list(snap["files"])
            )
            cand_set = set(cand)
            carried = [f for f in snap["files"] if f not in cand_set]
            surv_files: list[str] = []
            if cand:
                cur = self._read_files(spark, cand, with_meta=True)
                cur = apply_deletes(
                    spark, cur, manifest, snap.get("deletes", [])
                )
                survivors = self._reshape_for_sort_order(
                    cur.where(~matched).drop("__file", "__pos"),
                    manifest.get("sort_order"),
                )
                surv_files = self._write_data(survivors, spec=spec)
            new_files = self._write_data(
                self._reshape_for_sort_order(
                    staged, manifest.get("sort_order")
                ),
                spec=spec,
            )
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        all_new = surv_files + new_files
        snap_id = self._locked_commit(
            "replace",
            carried + all_new,
            self._file_stats(all_new),
            df.schema.json(),
            expected_tail=base,
            delete_files=snap.get("deletes", []),
        )[0]
        self._fire_commit_hooks("replace", snap_id)
        return snap_id

    def compact(
        self,
        spark: SparkSession,
        target_files: int = 1,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> int:
        """Small-file compaction: rewrite the current file set into
        ``target_files`` files and commit as a 'replace' snapshot
        (Iceberg's rewrite_data_files).

        Without ``sort_by``: coalesce only — no shuffle, cheapest
        rewrite. With ``sort_by``: range-repartition on the sort key
        (Iceberg's sort-order rewrite) — one shuffle, but the rewritten
        files then cover DISJOINT key ranges, so the manifest min/max
        stats make scan(ranges=...) prune to ~1 file per point lookup
        instead of reading every file. Worth the shuffle whenever the
        table is re-read selectively more than once.

        ``zorder_by`` (mutually exclusive with sort_by) clusters on
        the Morton interleave of SEVERAL columns (Delta OPTIMIZE
        ZORDER BY): each rewritten file covers a small bounding box in
        the combined key space, so range scans on ANY z-order column
        prune files — a linear sort only serves its leading column."""
        if sort_by and zorder_by:
            raise ValueError("pass sort_by or zorder_by, not both")
        manifest = self._read_manifest()
        if not manifest["snapshots"]:
            raise ValueError("empty table")
        base = manifest["snapshots"][-1]["id"]
        if sort_by is None and zorder_by is None:
            # honor the declared write sort order (Iceberg's rewrite
            # does by default): a plain coalesce would merge the
            # disjoint-range files sorted appends produced into
            # full-range files, silently destroying the clustering
            # set_sort_order exists to create — exactly on the
            # maintenance path its docs point at
            sort_by = manifest.get("sort_order")
        # delete-applied read: compaction MATERIALIZES outstanding
        # merge-on-read deletes — the rewritten files exclude deleted
        # rows and the new snapshot carries an empty delete tail, so
        # readers stop paying the anti-join
        df = self._read_snapshot(
            spark, manifest["snapshots"][-1], manifest
        )
        if zorder_by:
            from biglake_iceberg_pipeline_spark.operators.zorder import (
                with_zorder,
            )

            compacted = (
                with_zorder(df, zorder_by)
                .repartitionByRange(target_files, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        elif sort_by:
            compacted = df.repartitionByRange(
                target_files, *sort_by
            ).sortWithinPartitions(*sort_by)
        else:
            compacted = df.coalesce(target_files)
        files = self._write_data(
            compacted,
            spec=manifest.get("partition_by", self.partition_by),
        )
        snap = self._locked_commit(
            "replace",
            files,
            self._file_stats(files),
            None,
            expected_tail=base,
            # row-preserving: the rewritten files hold exactly the
            # logical rows readers already saw (outstanding MoR
            # deletes were applied to the read AND the rewrite) —
            # streams and incremental scans ride through
            data_change=False,
        )[0]
        self._fire_commit_hooks("replace", snap)
        return snap

    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        keys: list[str],
        txn: tuple[str, int] | None = None,
        mode: str = "copy-on-write",
    ) -> int:
        """MERGE (upsert) by key: source rows replace matching target
        rows; unmatched source rows are inserted (Iceberg
        MERGE INTO ... WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT).

        ``mode="copy-on-write"`` (default) — plan: target left-anti
        source-keys (drops rows being updated) ∪ source. One shuffle
        on the key for the anti join; the snapshot rewrite is
        whole-table. ``mode="merge-on-read"`` — the 100 TB path: one
        commit = source appended as new data files + an EQUALITY
        delete file on the merge keys that voids matching rows in
        OLDER files only (added_at scoping); nothing is rewritten and
        the commit costs O(source), not O(table). Readers pay a
        broadcast anti-join until compaction materializes it.
        Duplicate keys in source are rejected in both modes (Iceberg
        errors on multi-row matches too: nondeterministic update)."""
        if mode == "merge-on-read":
            return self._merge_mor(spark, source, keys, txn)
        if mode != "copy-on-write":
            raise ValueError(f"unknown merge mode {mode!r}")
        dup = (
            source.groupBy(*keys).count().where(F.col("count") > 1).limit(1)
        )
        if dup.count() > 0:
            raise ValueError(f"source has duplicate merge keys on {keys}")
        base = self.current_snapshot_id()
        target = self.read(spark)
        kept = target.join(source.select(*keys), keys, "left_anti")
        # Same evolution semantics as append: the merged table carries
        # the evolved schema, so kept rows null-fill source-only
        # columns instead of the union dropping them.
        evolved = evolve_schema(source, target)
        merged = align_to_schema(kept, evolved).unionByName(
            align_to_schema(source, evolved)
        )
        files = self._write_data(merged)
        snap, committed = self._locked_commit(
            "merge",
            files,
            self._file_stats(files),
            merged.schema.json(),
            expected_tail=base,
            txn=txn,
        )
        if committed:
            self._fire_commit_hooks("merge", snap)
        return snap

    def _merge_mor(
        self,
        spark: SparkSession,
        source: DataFrame,
        keys: list[str],
        txn: tuple[str, int] | None,
    ) -> int:
        """Merge-on-read MERGE: stage the source as ordinary data
        files, derive the equality-delete keys from the STAGED bytes
        (one evaluation of the source pipeline — the dup-key check
        runs on the same read), and commit both in one snapshot. The
        delete's applies_to watermark is the pre-commit tail, so it
        voids only pre-existing rows; the staged files themselves are
        stamped at the new snapshot id and survive their own delete."""
        import shutil

        # validate against the RAW source: align_for_append null-fills
        # target-schema columns, which would let a source missing its
        # key column slide through as NULL keys (and the equality
        # delete would then void NULL-key target rows via eqNullSafe)
        missing = set(keys) - set(source.columns)
        if missing:
            raise ValueError(f"merge keys missing from source: {missing}")
        manifest = self._read_manifest()
        snaps = manifest["snapshots"]
        if not snaps:
            # no target rows to void — a merge into an empty table is
            # exactly an append
            return self.append(source, txn=txn)
        base = snaps[-1]["id"]
        if manifest["schema"] is not None:
            target = self._read_files(spark, snaps[-1]["files"])
            source = align_for_append(source, target)
        data_files = self._write_data(
            source, spec=manifest.get("partition_by", self.partition_by)
        )
        stage = self._stage_dir_of(data_files)
        try:
            reader = spark.read
            if stage is not None:
                reader = reader.option("basePath", stage)
            staged = reader.parquet(*data_files)
            dup = (
                staged.groupBy(*keys)
                .count()
                .where(F.col("count") > 1)
                .limit(1)
            )
            if dup.count() > 0:
                raise ValueError(
                    f"source has duplicate merge keys on {keys}"
                )
            eq_files = self._write_delete_file(
                staged.select(*keys).distinct()
            )
        except Exception:
            if stage is not None:
                shutil.rmtree(stage, ignore_errors=True)
            raise
        snap_id, committed = self._locked_commit(
            "merge",
            data_files,
            self._file_stats(data_files),
            source.schema.json(),
            expected_tail=base,
            inherit_prev_files=True,
            txn=txn,
            delete_files=snaps[-1].get("deletes", []) + eq_files,
            delete_meta={
                p: {
                    "kind": "equality",
                    "keys": list(keys),
                    "applies_to": base,
                }
                for p in eq_files
            },
        )
        if committed:
            self._fire_commit_hooks("merge", snap_id)
        return snap_id

    def delete_where(
        self,
        spark: SparkSession,
        condition,
        mode: str = "copy-on-write",
        ranges: dict[str, tuple] | None = None,
    ) -> int:
        """DELETE FROM ... WHERE condition (condition is a Column or
        SQL string). ``mode="copy-on-write"`` rewrites the surviving
        rows — right for bulk deletes. ``mode="merge-on-read"`` writes
        a position-delete file instead (see ``delete_where_mor``) —
        right for selective deletes on huge tables, where rewriting
        everything to drop a few rows is the scale killer."""
        if mode == "merge-on-read":
            return self.delete_where_mor(spark, condition, ranges)
        if mode != "copy-on-write":
            raise ValueError(f"unknown delete mode {mode!r}")
        base = self.current_snapshot_id()
        target = self.read(spark)
        if isinstance(condition, str):
            condition = F.expr(condition)
        remaining = target.where(~condition)
        files = self._write_data(remaining)
        snap = self._locked_commit(
            "delete",
            files,
            self._file_stats(files),
            None,
            expected_tail=base,
        )[0]
        self._fire_commit_hooks("delete", snap)
        return snap

    def update_where(
        self,
        spark: SparkSession,
        condition,
        assignments: dict,
        mode: str = "copy-on-write",
    ) -> int:
        """UPDATE ... SET col = expr WHERE condition (Iceberg UPDATE
        semantics). ``assignments`` maps column name → Column or SQL
        string; non-matching rows pass through untouched.
        Conflict-checked like every rewrite.

        ``mode="copy-on-write"`` (default) rewrites the whole table.
        ``mode="merge-on-read"`` expresses the update as delete +
        insert in ONE snapshot (Iceberg v2): a position-delete file
        voids the matched rows and the updated versions land as new
        data files — commit cost O(matched rows), not O(table)."""
        if mode == "merge-on-read":
            return self._update_mor(spark, condition, assignments)
        if mode != "copy-on-write":
            raise ValueError(f"unknown update mode {mode!r}")
        base = self.current_snapshot_id()
        target = self.read(spark)
        if isinstance(condition, str):
            condition = F.expr(condition)
        updated = target
        for col, expr in assignments.items():
            if col not in target.columns:
                raise ValueError(f"unknown column {col!r}")
            if isinstance(expr, str):
                expr = F.expr(expr)
            updated = updated.withColumn(
                col, F.when(condition, expr).otherwise(F.col(col))
            )
        files = self._write_data(updated)
        snap = self._locked_commit(
            "update",
            files,
            self._file_stats(files),
            None,
            expected_tail=base,
        )[0]
        self._fire_commit_hooks("update", snap)
        return snap

    def _update_mor(
        self, spark: SparkSession, condition, assignments: dict
    ) -> int:
        """Merge-on-read UPDATE: stage the matched-and-updated rows
        WITH their source (__file, __pos) coordinates in one
        evaluation of the match scan (a nondeterministic condition
        must not pick different rows for the delete and the insert),
        then derive BOTH the position-delete file and the new data
        files from the staged bytes and commit them as one snapshot.
        The match scan runs on the delete-applied current state, so
        already-deleted rows are never updated back to life."""
        import shutil

        manifest = self._read_manifest()
        snaps = manifest["snapshots"]
        if not snaps:
            raise ValueError("empty table")
        snap = snaps[-1]
        base = snap["id"]
        if isinstance(condition, str):
            condition = F.expr(condition)
        df = self._read_files(spark, snap["files"], with_meta=True)
        df = apply_deletes(
            spark, df, manifest, snap.get("deletes", [])
        )
        data_cols = [
            c for c in df.columns if c not in ("__file", "__pos")
        ]
        updated = df.where(condition)
        for col, expr in assignments.items():
            if col not in data_cols:
                raise ValueError(f"unknown column {col!r}")
            if isinstance(expr, str):
                expr = F.expr(expr)
            updated = updated.withColumn(col, expr)
        # staging under data/: a crash leaves an unreferenced dir the
        # orphan sweep reclaims, like any other failed write
        stage = os.path.join(
            self.path, "data", f"snap-{uuid.uuid4().hex[:12]}-upd"
        )
        updated.write.mode("overwrite").parquet(stage)
        try:
            staged_files = [
                os.path.join(root, n)
                for root, _d, names in os.walk(stage)
                for n in names
                if n.endswith(".parquet")
            ]
            n_rows = sum(
                self._file_row_counts(staged_files).values()
            )
            if n_rows == 0:
                return base  # no match: nothing to commit
            staged = spark.read.parquet(*staged_files)
            del_files = self._write_delete_file(
                staged.select(
                    F.col("__file").alias("file_path"),
                    F.col("__pos").alias("pos"),
                )
            )
            new_files = self._write_data(
                staged.select(*data_cols),
                spec=manifest.get("partition_by", self.partition_by),
            )
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        snap_id = self._locked_commit(
            "update",
            new_files,
            self._file_stats(new_files),
            None,
            expected_tail=base,
            inherit_prev_files=True,
            delete_files=snap.get("deletes", []) + del_files,
            delete_meta={p: {"kind": "position"} for p in del_files},
        )[0]
        self._fire_commit_hooks("update", snap_id)
        return snap_id

    def incremental_scan(
        self,
        spark: SparkSession,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Rows ADDED after ``from_snapshot_id`` up to
        ``to_snapshot_id`` (default: current) — Iceberg's incremental
        append scan, the cheap CDC feed for downstream consumers:
        each poll reads only the new files, never the table.

        Only valid across append snapshots; a ROW-CHANGING rewrite in
        the range (merge/delete/update/overwrite) redistributes
        existing rows across new files, so a file-level diff would
        replay old rows as if new — that case raises, same as
        Iceberg. Row-PRESERVING rewrites (compaction / delete
        materialization, stamped ``data_change=False`` — Delta's
        dataChange flag) are skipped instead: their files hold only
        rows the consumer already has, and later appends diff against
        the post-rewrite file set."""
        snaps = self.snapshots
        ids = [s["id"] for s in snaps]
        if from_snapshot_id not in ids:
            raise SnapshotNotFoundError(f"snapshot {from_snapshot_id} not found")
        to_snapshot_id = (
            to_snapshot_id if to_snapshot_id is not None else ids[-1]
        )
        if to_snapshot_id not in ids:
            raise SnapshotNotFoundError(f"snapshot {to_snapshot_id} not found")
        lo, hi = ids.index(from_snapshot_id), ids.index(to_snapshot_id)
        if hi < lo:
            raise ValueError("to_snapshot precedes from_snapshot")
        between = snaps[lo + 1 : hi + 1]
        non_append = [
            s["id"]
            for s in between
            if s["operation"] != "append"
            and s.get("data_change") is not False
        ]
        if non_append:
            raise LineageBrokenError(
                f"incremental scan crosses rewrite snapshots {non_append}; "
                "re-baseline from a full read"
            )
        # snapshot ids are sequential: a GAP in the surviving range
        # means tag-preserving expiry dropped intermediate snapshots,
        # and one of them could have been a rewrite this scan would
        # silently replay — broken lineage, same as crossing one
        if ids[lo:hi + 1] != list(
            range(from_snapshot_id, to_snapshot_id + 1)
        ):
            raise LineageBrokenError(
                "incremental scan range has expired intermediate "
                "snapshots (history gap); re-baseline from a full read"
            )
        # per-snapshot diff vs the PREDECESSOR (not the range base):
        # a row-preserving rewrite mid-range swaps the live file set
        # for compacted files holding only already-delivered rows —
        # those must not be emitted, and the append AFTER it must
        # diff against the post-rewrite set, not the base
        added: list[str] = []
        prev = set(snaps[lo]["files"])
        for s in between:
            cur = list(dict.fromkeys(s["files"]))
            if s.get("data_change") is not False:
                added.extend(f for f in cur if f not in prev)
            prev = set(cur)
        # files accumulate across appends: later snapshots re-list
        # earlier files, so de-dup while preserving order
        added = list(dict.fromkeys(added))
        if not added:
            return self.read(spark, to_snapshot_id).limit(0)
        return self._read_files(spark, added)

    def change_feed(
        self,
        spark: SparkSession,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
        keys: list[str] | None = None,
    ) -> DataFrame:
        """Classified row changes between two snapshots (the Delta
        CHANGE DATA FEED / Iceberg changelog-scan analog), with a
        ``_change_type`` column: insert / delete /
        update_preimage / update_postimage.

        Append-only ranges take the cheap path — the file-level diff
        of ``incremental_scan`` (O(new files), all inserts). Ranges
        crossing a rewrite (merge/delete/update/overwrite/rollback)
        fall back to a snapshot DIFF: one full-outer join on ``keys``
        (required there), classifying per key with null-safe struct
        comparison. The diff is O(old + new) — a production writer
        would persist per-commit change files to avoid it (Delta CDF
        does exactly that); the read-side diff returns the same rows
        for copy-on-write commits without touching the write path."""
        try:
            added = self.incremental_scan(
                spark, from_snapshot_id, to_snapshot_id
            )
            return added.withColumn("_change_type", F.lit("insert"))
        except LineageBrokenError:
            pass
        if not keys:
            raise ValueError(
                "change_feed across rewrite snapshots needs `keys` to "
                "classify updates (no keys -> cannot distinguish an "
                "update from a delete+insert)"
            )
        old = self.read(spark, from_snapshot_id)
        new = self.read(spark, to_snapshot_id)
        rest_old = [c for c in old.columns if c not in keys]
        rest_new = [c for c in new.columns if c not in keys]
        o = old.select(
            *keys, F.struct(*rest_old).alias("_o")
        )
        n = new.select(
            *keys, F.struct(*rest_new).alias("_n")
        )
        j = o.join(n, keys, "full_outer")
        deletes = (
            j.where(F.col("_n").isNull())
            .select(*keys, "_o.*")
            .withColumn("_change_type", F.lit("delete"))
        )
        inserts = (
            j.where(F.col("_o").isNull())
            .select(*keys, "_n.*")
            .withColumn("_change_type", F.lit("insert"))
        )
        changed = j.where(
            F.col("_o").isNotNull()
            & F.col("_n").isNotNull()
            & ~F.col("_o").eqNullSafe(F.col("_n"))
        )
        pre = changed.select(*keys, "_o.*").withColumn(
            "_change_type", F.lit("update_preimage")
        )
        post = changed.select(*keys, "_n.*").withColumn(
            "_change_type", F.lit("update_postimage")
        )
        return (
            deletes.unionByName(inserts, allowMissingColumns=True)
            .unionByName(pre, allowMissingColumns=True)
            .unionByName(post, allowMissingColumns=True)
        )

    def analyze(
        self, spark: SparkSession, columns: list[str] | None = None
    ) -> dict:
        """ANALYZE TABLE: row count + per-column approx NDV and null
        counts, stored in the manifest (Iceberg keeps the same stats
        in puffin files). One scan, all columns aggregated in a single
        pass (HLL sketches merge map-side — no shuffle of data rows,
        just sketch merge). A planner (or a human) reads them via
        ``stats()`` to pick broadcast/bucket/salt strategies without
        scanning; stale stats carry their snapshot_id so readers can
        tell."""
        df = self.read(spark)
        skip = ("array", "map", "struct", "binary")
        cols = columns or [
            c for c, t in df.dtypes if not t.startswith(skip)
        ]
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in cols:
            aggs.append(F.approx_count_distinct(c).alias(f"__ndv_{c}"))
            aggs.append(
                F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{c}")
            )
        row = df.agg(*aggs).head().asDict()
        stats = {
            "snapshot_id": self.current_snapshot_id(),
            "row_count": row["__rows"],
            "columns": {
                c: {"ndv": row[f"__ndv_{c}"], "nulls": row[f"__nulls_{c}"]}
                for c in cols
            },
        }
        lock = self._acquire_lock()
        try:
            manifest = self._read_manifest()
            manifest["table_stats"] = stats
            self._commit(manifest)
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass
        return stats

    def stats(self) -> dict | None:
        """Last ANALYZE result (None if never analyzed). Check
        ``stats()['snapshot_id'] == current_snapshot_id()`` for
        freshness."""
        return self._read_manifest().get("table_stats")

    # ---- incremental per-file NDV sketches ------------------------
    # Iceberg keeps theta/HLL sketches in puffin sidecar files so
    # table-level NDV stays fresh without rescanning; same idea here
    # with Spark's DataSketches HLL functions (hll_sketch_agg /
    # hll_union_agg). Sketches are keyed by DATA FILE — files are
    # immutable, so a sketch never goes stale; compaction / DELETE /
    # MERGE rewrite files, their replacements get sketched on the next
    # refresh, and dead files simply drop out of the union. Keeping
    # stats fresh after an append therefore costs O(new files), never
    # O(table) — the property that matters at 100 TB, where a full
    # ANALYZE scan is a multi-hour job.

    NDV_LG_K = 12  # 2^12 HLL registers → ~1.6% relative error

    @staticmethod
    def _sketchable(dtype: str) -> bool:
        return not dtype.startswith(("array", "map", "struct", "binary"))

    def _ndv_sketches(
        self, files: list[str] | None = None
    ) -> dict[str, dict]:
        """Resolve per-file NDV sketches ({data_file: {col: b64}})
        for ``files`` (default: every file with a pointer).

        Sketches live in puffin-style SIDECAR blobs under
        ``stats/`` — one JSON blob per refresh batch — and the
        manifest keeps only a {data_file: sidecar_relpath} pointer
        map. Sketch payload is O(files × cols × KB); inlining it in
        ``_manifest.json`` would make every commit rewrite megabytes
        and every manifest read parse them (the r5 scale finding).
        With pointers the manifest stays O(snapshots + files) and a
        stats reader opens only the blobs it needs, each once.

        A pointer whose blob is missing/corrupt resolves to no sketch
        — the file simply re-sketches on the next refresh (self-
        healing, same contract as a never-sketched file). Legacy
        manifests with an embedded ``file_ndv`` dict still resolve;
        the next refresh migrates them into a sidecar."""
        manifest = self._read_manifest()
        legacy = manifest.get("file_ndv", {})
        ptr = manifest.get("ndv_sidecars", {})
        if files is None:
            files = list(dict.fromkeys(list(legacy) + list(ptr)))
        out = {f: legacy[f] for f in files if f in legacy}
        by_blob: dict[str, list[str]] = {}
        for f in files:
            rel = ptr.get(f)
            if rel is not None and f not in out:
                by_blob.setdefault(rel, []).append(f)
        io = fileio_for(self.path)
        for rel, fs in by_blob.items():
            try:
                blob = json.loads(
                    io.read_bytes(os.path.join(self.path, rel))
                )
            except (OSError, ValueError):
                continue  # lost blob → those files re-sketch later
            for f in fs:
                if f in blob:
                    out[f] = blob[f]
        # metadata-only renames: the DATA didn't change, so a sketch
        # recorded under a prior name is byte-valid for the current
        # one — remap instead of re-sketching the whole history
        ren = column_rename_map(manifest)
        if ren:
            for f, sk in out.items():
                remapped = None
                for cur, priors in ren.items():
                    if cur not in sk:
                        for p in priors:
                            if p in sk:
                                if remapped is None:
                                    remapped = dict(sk)
                                remapped[cur] = sk[p]
                                break
                if remapped is not None:
                    out[f] = remapped
        return out

    def _write_stats_sidecar(self, kind: str, payload: dict) -> str:
        """Persist one refresh batch's stats as a sidecar blob via the
        FileIO seam (write_atomic = single-object PUT); returns its
        manifest-relative path."""
        io = fileio_for(self.path)
        io.makedirs(os.path.join(self.path, "stats"))
        rel = os.path.join("stats", f"{kind}-{uuid.uuid4().hex}.json")
        io.write_atomic(
            os.path.join(self.path, rel), json.dumps(payload).encode()
        )
        return rel

    def _write_ndv_sidecar(self, sketches: dict[str, dict]) -> str:
        return self._write_stats_sidecar("ndv", sketches)

    def refresh_ndv_sketches(
        self, spark: SparkSession, files: list[str] | None = None
    ) -> int:
        """Sketch every current-snapshot data file (or the explicit
        ``files`` list) that lacks a per-column HLL sketch (one
        distributed job over ONLY those files: group by
        input_file_name, partial sketches merge map-side, result is
        |files| rows). Self-healing and incremental: after an append
        only the new files are read. Returns the number of files
        sketched."""
        import base64
        from urllib.parse import unquote, urlparse

        if files is None:
            snaps = self.snapshots
            files = snaps[-1]["files"] if snaps else []
        have = self._ndv_sketches(files)
        missing = [f for f in files if f not in have]
        if not missing:
            return 0
        df = self._read_files(spark, missing)
        aggs = []
        cols = []
        for c, t in df.dtypes:
            if not self._sketchable(t):
                continue
            e = F.col(c)
            if t not in ("int", "bigint", "string"):
                # hll_sketch_agg accepts int/bigint/string/binary only;
                # NDV is representation-insensitive, so cast the rest
                e = e.cast("string")
            cols.append(c)
            aggs.append(F.hll_sketch_agg(e, self.NDV_LG_K).alias(c))
        if not cols:
            return 0
        rows = (
            df.withColumn("__file", F.input_file_name())
            .groupBy("__file")
            .agg(*aggs)
            .collect()
        )
        by_path = {
            unquote(urlparse(r["__file"]).path): {
                c: base64.b64encode(r[c]).decode()
                for c in cols
                if r[c] is not None  # all-null column in this file
            }
            for r in rows
        }
        new = {f: by_path[f] for f in missing if f in by_path}
        # zero-row files produce no groupBy row; memoize an empty
        # sketch dict (verified 0 rows via footer) so they aren't
        # re-read on every future refresh
        absent = [f for f in missing if f not in by_path]
        if absent:
            for f, n in self._file_row_counts(absent).items():
                if n == 0:
                    new[f] = {}
        if not new:
            return 0
        # blob first, pointers second: a crash in between leaves an
        # unreferenced sidecar (GC'd at expiry), never dangling
        # pointers
        rel = self._write_ndv_sidecar(new)
        lock = self._acquire_lock()
        try:
            manifest = self._read_manifest()
            ptr = manifest.setdefault("ndv_sidecars", {})
            for f in new:
                ptr[f] = rel
            # migrate a legacy embedded sketch dict into its own
            # sidecar so the manifest sheds the payload
            legacy = manifest.pop("file_ndv", None)
            if legacy:
                legacy_rel = self._write_ndv_sidecar(legacy)
                for f in legacy:
                    ptr.setdefault(f, legacy_rel)
            self._commit(manifest)
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass
        return len(new)

    def ndv_covered(self, files: list[str] | None = None) -> bool:
        """POINTER-presence check: do all ``files`` (default: current
        snapshot) have a sketch entry? Reads only the manifest —
        never opens sidecar blobs — so O(metadata) callers (the join
        advisor's no-scan mode) can gate on it without paying blob
        I/O. A dangling pointer (lost blob) passes this check; the
        estimate then just under-counts until the next refresh."""
        if files is None:
            snaps = self.snapshots
            files = snaps[-1]["files"] if snaps else []
        m = self._read_manifest()
        have = set(m.get("file_ndv", {})) | set(m.get("ndv_sidecars", {}))
        return not (set(files) - have)

    def ndv(
        self,
        spark: SparkSession,
        columns: list[str] | None = None,
        snapshot_id: int | None = None,
        refresh: bool = True,
    ) -> dict[str, int]:
        """Approximate distinct count per column from the per-file
        sketches: refresh whatever files are missing (O(new data)),
        then union |live files| × |columns| pre-built sketches — no
        data scan. Feed these to broadcast/salt/bucket decisions
        (``analyze_incremental`` persists them like ANALYZE).

        ``snapshot_id`` time-travels the estimate: sketches are keyed
        by immutable data file, so the NDV of ANY unexpired snapshot
        is just a different union over the same sketch pool."""
        import base64

        snap = _snapshot(self._read_manifest(), snapshot_id)
        live = snap["files"] if snap else []
        if refresh:
            self.refresh_ndv_sketches(spark, files=live)
        sketches = self._ndv_sketches(live)
        pairs = [
            (c, base64.b64decode(b64))
            for f in live
            for c, b64 in sketches.get(f, {}).items()
            if columns is None or c in columns
        ]
        if not pairs:
            return {}
        rows = (
            spark.createDataFrame(pairs, "col string, sk binary")
            .groupBy("col")
            .agg(
                F.hll_sketch_estimate(
                    F.hll_union_agg("sk", F.lit(True))
                ).alias("ndv")
            )
            .collect()
        )
        return {r["col"]: int(r["ndv"]) for r in rows}

    @staticmethod
    def _file_null_counts(files: list[str]) -> dict[str, dict]:
        """Per-file per-column null counts from parquet footers
        (metadata only, no data pages). A column whose statistics are
        absent in any row group reports None (unknown)."""
        import pyarrow.parquet as pq

        out: dict[str, dict] = {}
        for path in files:
            meta = pq.ParquetFile(path).metadata
            per: dict[str, int | None] = {}
            for rg_i in range(meta.num_row_groups):
                rg = meta.row_group(rg_i)
                for c_i in range(rg.num_columns):
                    col = rg.column(c_i)
                    name = col.path_in_schema
                    if "." in name:  # nested leaf, not a top-level col
                        continue
                    st = col.statistics
                    nc = None if st is None else st.null_count
                    if nc is None:
                        per[name] = None
                    elif per.get(name, 0) is not None:
                        per[name] = per.get(name, 0) + nc
            out[path] = per
        return out

    def analyze_incremental(self, spark: SparkSession) -> dict:
        """ANALYZE without a table scan: row count from footer record
        counts, NDV from the per-file HLL sketches (only files added
        since the last refresh are read), null counts from footer
        statistics. Produces the same stats dict shape as
        ``analyze()`` and persists it the same way — at 100 TB this
        is minutes of metadata work instead of a full-table pass.
        Columns evolved onto the table mid-history read as NULL from
        pre-evolution files, so a file missing a column contributes
        its full row count to that column's null total.

        Outstanding merge-on-read deletes: the row count subtracts
        position-delete rows (exact, via ``row_count``); NDV and null
        counts come from per-data-file footers/sketches and so are
        UPPER bounds until compaction materializes the deletes —
        the same freshness contract Iceberg's per-file stats carry."""
        ndv = self.ndv(spark)
        snaps = self.snapshots
        live = snaps[-1]["files"] if snaps else []
        file_rows = self._file_row_counts(live)
        file_nulls = self._file_null_counts(live)
        file_parts = self._read_manifest().get("file_partitions", {})
        # column set from the committed schema, matching analyze()'s
        # eligibility — an ALL-NULL column has no sketch (ndv 0) but
        # must still report its null count
        schema_json = self._read_manifest().get("schema")
        if schema_json:
            from pyspark.sql.types import StructType

            cols = [
                f.name
                for f in StructType.fromJson(json.loads(schema_json)).fields
                if self._sketchable(f.dataType.simpleString())
            ]
        else:
            cols = list(ndv)
        nulls: dict[str, int | None] = {}
        for c in cols:
            total: int | None = 0
            for f in live:
                per = file_nulls.get(f, {})
                pvals = file_parts.get(f, {})
                if c in per:
                    n = per[c]
                elif c in pvals:
                    # a path-encoded column for THIS file (specs are
                    # per-file under partition evolution): NULL iff
                    # the hive value is the default
                    n = file_rows.get(f, 0) if pvals[c] is None else 0
                else:
                    n = file_rows.get(f)  # pre-evolution file: all null
                if n is None or total is None:
                    total = None
                else:
                    total += n
            nulls[c] = total
        rc = sum(file_rows.values())
        if snaps and snaps[-1].get("deletes"):
            exact = self.row_count()
            if exact is not None:  # position deletes: exact subtract
                rc = exact
        stats = {
            "snapshot_id": self.current_snapshot_id(),
            "row_count": rc,
            "columns": {
                c: {"ndv": ndv.get(c, 0), "nulls": nulls[c]} for c in cols
            },
            "source": "incremental",
        }
        lock = self._acquire_lock()
        try:
            manifest = self._read_manifest()
            manifest["table_stats"] = stats
            self._commit(manifest)
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass
        return stats

    def rollback_to(self, snapshot_id: int) -> int:
        """Roll the table back to an earlier snapshot (Iceberg
        rollback_to_snapshot): commits a NEW snapshot whose file list
        is the old one, so the bad snapshots stay in history (time
        travel still reaches them; expire_snapshots reclaims them) and
        concurrent readers never see a gap. No data is rewritten —
        this is a metadata-only commit."""
        manifest = self._read_manifest()
        target = _snapshot(manifest, snapshot_id)
        snap = self._locked_commit(
            "rollback",
            list(target["files"]),
            {},
            None,
            expected_tail=manifest["snapshots"][-1]["id"],
            # the rolled-back-to state includes its delete tail: a
            # snapshot with outstanding merge-on-read deletes must not
            # resurrect deleted rows on rollback
            delete_files=list(target.get("deletes", [])),
        )[0]
        self._fire_commit_hooks("rollback", snap)
        return snap

    def set_sort_order(self, columns: list[str] | None) -> None:
        """Declare a table WRITE SORT ORDER (Iceberg's
        write.sort-order): every subsequent ``append()``
        range-distributes and locally sorts its rows on these columns
        before writing, so each new file covers a narrow key range
        and the manifest footer stats prune point/range reads —
        clustering paid once at write time instead of a
        ``compact(sort_by=...)`` rewrite later. At 100 TB this is how
        a continuously-appended table stays scan-prunable without
        periodic whole-table rewrites.

        Metadata-only, under the commit lock; ``None`` (or ``[]``)
        clears it. Files already written keep their layout —
        ``compact(sort_by=...)`` re-clusters the history. Each sorted
        append costs one range shuffle; output file count follows
        ``spark.sql.shuffle.partitions`` (maintain()'s size-aware
        trigger re-bins small appends). Columns must exist in the
        committed schema when one exists; incoming appends lacking a
        sort column skip the reshape for the missing columns."""
        new_order = list(columns) if columns else None
        lock = self._acquire_lock()
        try:
            manifest = self._read_manifest()
            schema_json = manifest.get("schema")
            if new_order and schema_json:
                from pyspark.sql.types import StructType

                known = {
                    f.name
                    for f in StructType.fromJson(
                        json.loads(schema_json)
                    ).fields
                }
                missing = set(new_order) - known
                if missing:
                    raise ValueError(
                        f"sort columns not in schema: {missing}"
                    )
            if (manifest.get("sort_order") or None) == new_order:
                return  # no-op
            manifest["sort_order"] = new_order
            self._commit(manifest)
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass

    def sort_order(self) -> list[str] | None:
        return self._read_manifest().get("sort_order")

    def _schema_evolution_guard(
        self, manifest: dict, name: str, verb: str
    ) -> None:
        """A column the table's machinery references by name cannot
        be renamed or dropped metadata-only: partition specs and
        hidden transforms bake the name into file LAYOUT, the sort
        order into write reshaping, live equality deletes into row
        voiding, vector indexes into probe plumbing. Rewrite-free
        evolution of those would silently break them — fail loudly
        and make the caller evolve the dependent config first."""
        if name in (manifest.get("partition_by") or ()):  # layout
            raise ValueError(
                f"cannot {verb} partition column {name!r}: evolve "
                "the partition spec first"
            )
        for tname, te in (
            manifest.get("partition_transforms") or {}
        ).items():
            if name in (te.get("src"), tname):
                raise ValueError(
                    f"cannot {verb} {name!r}: referenced by hidden-"
                    f"partitioning transform {tname!r}"
                )
        if name in (manifest.get("sort_order") or ()):
            raise ValueError(
                f"cannot {verb} sort-order column {name!r}: "
                "set_sort_order first"
            )
        for meta in (manifest.get("delete_meta") or {}).values():
            if name in (meta.get("keys") or ()):
                raise ValueError(
                    f"cannot {verb} {name!r}: a live equality-delete "
                    "file keys on it — materialize_deletes first"
                )
        for vcol, meta in (
            manifest.get("vector_indexes") or {}
        ).items():
            if name in (vcol, (meta or {}).get("id_col")):
                raise ValueError(
                    f"cannot {verb} {name!r}: a vector index is "
                    "built on it — drop the index first"
                )

    @staticmethod
    def _historical_names(manifest: dict) -> set[str]:
        """Names that may still exist INSIDE live immutable data
        files under a retired meaning: every rename's prior name and
        every dropped column. Reusing one for a new/renamed column
        would resurrect the old files' bytes under the new meaning —
        the hazard Iceberg's field ids exist to prevent."""
        out = {
            r["from"] for r in manifest.get("column_renames") or ()
        }
        out.update(manifest.get("dropped_columns") or ())
        return out

    def rename_column(self, old: str, new: str) -> int:
        """Rename a column WITHOUT rewriting a byte (Iceberg's
        metadata-only rename via field ids; here a rename journal
        over raw parquet names): data files keep the old name, every
        read — latest, time travel, scans, the connector, streams —
        coalesces the column across its name vintages via the
        committed-schema overlay. Composes with add/widen evolution,
        partition specs (non-partition columns only), and MoR
        position deletes. Per-column NDV/bloom sidecar entries keyed
        under the old name simply stop matching and self-heal on the
        next refresh (files re-sketch under the new name).

        The old name (and any dropped column's name) is permanently
        retired: re-introducing it would surface the OLD files'
        bytes under the new column (name-based overlay) — exactly
        the resurrection field ids prevent, so it is refused."""
        lock = self._acquire_lock()
        try:
            manifest = self._read_manifest()
            schema_json = manifest.get("schema")
            if not schema_json:
                raise ValueError("table has no committed schema yet")
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(schema_json))
            names = [f.name for f in schema.fields]
            if old not in names:
                raise ValueError(f"no such column: {old!r}")
            if new in names:
                raise ValueError(f"column exists: {new!r}")
            retired = self._historical_names(manifest)
            if new in retired:
                raise ValueError(
                    f"column name {new!r} was previously used "
                    "(renamed away or dropped); live data files may "
                    "still store bytes under it — pick a fresh name"
                )
            self._schema_evolution_guard(manifest, old, "rename")
            new_fields = [
                type(f)(new, f.dataType, f.nullable, f.metadata)
                if f.name == old
                else f
                for f in schema.fields
            ]
            new_json = StructType(new_fields).json()
            # schema swap + journal entry land as ONE snapshot under
            # ONE lock: a reader between separate commits would see
            # the new name with no vintage mapping and surface NULL
            snap = self._commit_schema_evolution(
                manifest, new_json, rename=(old, new)
            )
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass
        self._fire_commit_hooks("evolve-schema", snap)
        return snap

    def _commit_schema_evolution(
        self,
        manifest: dict,
        new_schema_json: str,
        rename: tuple[str, str] | None = None,
        dropped: str | None = None,
    ) -> int:
        """One metadata-only, row-preserving snapshot: same file and
        delete tails as the predecessor, dataChange=false (streams
        and incremental consumers ride through), the committed
        schema swapped and the rename journal / dropped-names ledger
        updated atomically with it. MUST be called under the commit
        lock with the manifest read under that same lock."""
        self._guard_schema_transform_clash(manifest, new_schema_json)
        snaps = manifest["snapshots"]
        snap_id = self._next_id(manifest)
        entry: dict = {
            "id": snap_id,
            "operation": "evolve-schema",
            "ts": time.time(),
            "files": list(snaps[-1]["files"]) if snaps else [],
            "summary": {"schema_change": True},
            "data_change": False,
        }
        if snaps and snaps[-1].get("deletes"):
            entry["deletes"] = list(snaps[-1]["deletes"])
        manifest["snapshots"].append(entry)
        if manifest.get("schema") != new_schema_json:
            manifest.setdefault("schema_log", []).append(
                {"at": snap_id, "schema": new_schema_json}
            )
        manifest["schema"] = new_schema_json
        if rename is not None:
            manifest.setdefault("column_renames", []).append(
                {"from": rename[0], "to": rename[1], "at": snap_id}
            )
        if dropped is not None:
            led = manifest.setdefault("dropped_columns", [])
            if dropped not in led:
                led.append(dropped)
        self._commit(manifest)
        return snap_id

    def widen_column(self, name: str, new_type: str) -> int:
        """ALTER COLUMN TYPE as metadata-only evolution (Iceberg's
        type promotion): only SAFE widenings are allowed
        (operators/schema_evolution.py::READ_SAFE_WIDENINGS —
        tinyint/smallint/int→wider ints or double, float→double:
        exactly the promotions the parquet scan can apply to the
        narrower physical type; bigint→double / date→timestamp need
        a rewrite); old
        files keep their narrower physical type and the read overlay
        upcasts in the scan, exactly the contract appends with wider
        incoming types already establish — this completes the ALTER
        family (add via append-evolve, widen, rename, drop) as
        explicit table DDL that never rewrites a byte."""
        from pyspark.sql.types import StructType, _parse_datatype_string

        from biglake_iceberg_pipeline_spark.operators.schema_evolution import (  # noqa: E501
            READ_SAFE_WIDENINGS,
            normalize_type,
        )

        target_dt = _parse_datatype_string(new_type)
        lock = self._acquire_lock()
        try:
            manifest = self._read_manifest()
            schema_json = manifest.get("schema")
            if not schema_json:
                raise ValueError("table has no committed schema yet")
            schema = StructType.fromJson(json.loads(schema_json))
            fld = next(
                (f for f in schema.fields if f.name == name), None
            )
            if fld is None:
                raise ValueError(f"no such column: {name!r}")
            cur_t = normalize_type(fld.dataType.simpleString())
            new_t = normalize_type(target_dt.simpleString())
            if cur_t == new_t:
                return self.current_snapshot_id()  # no-op
            if (cur_t, new_t) not in READ_SAFE_WIDENINGS:
                raise ValueError(
                    f"unsafe type change {cur_t} -> {new_t} for "
                    f"{name!r}: only READ-safe promotions are "
                    "metadata-only — the scan must upcast old files' "
                    "physical type (rewrite via merge/overwrite/"
                    "compact for the rest)"
                )
            # a live equality-delete file keys on write-time values;
            # widening the key column makes later reads render the
            # upcast data value differently from the delete file's
            # narrower one (float 0.1 -> double 0.10000000149...),
            # so the connector's string-keyed is_in overlay would
            # resurrect the deleted rows (reproduced live, r12
            # review). Same refusal rename/drop already apply.
            for meta in (manifest.get("delete_meta") or {}).values():
                if name in (meta.get("keys") or ()):
                    raise ValueError(
                        f"cannot widen {name!r}: a live equality-"
                        "delete file keys on it — "
                        "materialize_deletes first"
                    )
            new_fields = [
                type(f)(f.name, target_dt, f.nullable, f.metadata)
                if f.name == name
                else f
                for f in schema.fields
            ]
            snap = self._commit_schema_evolution(
                manifest, StructType(new_fields).json()
            )
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass
        self._fire_commit_hooks("evolve-schema", snap)
        return snap

    def drop_column(self, name: str) -> int:
        """Drop a column WITHOUT rewriting a byte: the committed
        schema simply stops projecting it (old files keep the bytes;
        the overlay never reads them). The name is retired — see
        ``rename_column`` for why re-adding it is refused at the
        rename layer. Reference analog: the agent's
        cleaning/drop_column.sql, here as table-level metadata
        evolution instead of a DataFrame rewrite."""
        lock = self._acquire_lock()
        try:
            manifest = self._read_manifest()
            schema_json = manifest.get("schema")
            if not schema_json:
                raise ValueError("table has no committed schema yet")
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(schema_json))
            names = [f.name for f in schema.fields]
            if name not in names:
                raise ValueError(f"no such column: {name!r}")
            if len(names) == 1:
                raise ValueError("cannot drop the only column")
            self._schema_evolution_guard(manifest, name, "drop")
            new_json = StructType(
                [f for f in schema.fields if f.name != name]
            ).json()
            snap = self._commit_schema_evolution(
                manifest, new_json, dropped=name
            )
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass
        self._fire_commit_hooks("evolve-schema", snap)
        return snap

    def evolve_partition_spec(
        self, new_partition_by: list[str] | None
    ) -> None:
        """Change the partition spec WITHOUT rewriting a byte
        (Iceberg partition evolution): a metadata-only update — files
        already written keep their old layout, files written from now
        on use the new one, and every read/prune path handles mixed
        layouts per file (the manifest records each file's own
        partition values; footer stats cover a spec's column where it
        is a data column). At 100 TB this is the difference between
        changing a table's partitioning and re-ingesting it.

        ``new_partition_by=None`` (or ``[]``) evolves to
        unpartitioned. Columns must exist in the committed schema.
        ``compact()`` (or ``maintain``) migrates the whole table to
        the current spec as a side effect of its rewrite — run it
        when the old layout should stop being scanned.

        The spec history is recorded in the manifest
        (``partition_spec_history``) for observability."""
        new_spec = list(new_partition_by) if new_partition_by else None
        lock = self._acquire_lock()
        try:
            manifest = self._read_manifest()
            schema_json = manifest.get("schema")
            if new_spec:
                entries = [_parse_spec_entry(x) for x in new_spec]
                if schema_json:
                    from pyspark.sql.types import StructType

                    known = {
                        f.name
                        for f in StructType.fromJson(
                            json.loads(schema_json)
                        ).fields
                    }
                    missing = {e["src"] for e in entries} - known
                    if missing:
                        raise ValueError(
                            f"partition columns not in schema: {missing}"
                        )
                    clash = {
                        e["name"]
                        for e in entries
                        if e["kind"] != "identity"
                    } & known
                    if clash:
                        raise ValueError(
                            f"derived partition columns collide with "
                            f"data columns: {clash}"
                        )
            # key-present-None means "evolved to unpartitioned" — it
            # must NOT fall back to this instance's constructor spec,
            # or an evolve back to that spec silently no-ops
            old = (
                manifest["partition_by"]
                if "partition_by" in manifest
                else self.partition_by
            )
            if (old or None) == (new_spec or None):
                return  # no-op
            manifest["partition_by"] = new_spec
            self._record_transforms(manifest, new_spec)
            manifest.setdefault("partition_spec_history", []).append(
                {
                    "spec": new_spec,
                    "previous": old,
                    "ts": time.time(),
                    "at_snapshot": (
                        manifest["snapshots"][-1]["id"]
                        if manifest["snapshots"]
                        else None
                    ),
                }
            )
            self._commit(manifest)
            self.partition_by = new_spec
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass

    # ---- snapshot tags (Iceberg tags: named, GC-protected refs) ----

    def tag(
        self,
        name: str,
        snapshot_id: int | None = None,
        replace: bool = False,
    ) -> int:
        """Name a snapshot (Iceberg tag / BigQuery table snapshot):
        ``read(spark, tag=name)`` resolves it, and ``expire_snapshots``
        keeps tagged snapshots (and their files) alive regardless of
        ``keep_last`` until the tag is deleted — the audit/compliance
        pin that plain history expiry would silently destroy.
        Retargeting an existing name requires ``replace=True``
        (silently moving a pin releases the old snapshot's GC
        protection — Iceberg refuses the same way)."""
        lock = self._acquire_lock()
        try:
            manifest = self._read_manifest()
            snaps = manifest["snapshots"]
            if not snaps:
                raise ValueError("cannot tag an empty table")
            sid = _snapshot(manifest, snapshot_id)["id"]
            tags = manifest.setdefault("tags", {})
            if name in tags and tags[name] != sid and not replace:
                raise ValueError(
                    f"tag {name!r} already pins snapshot {tags[name]}; "
                    "pass replace=True to retarget it"
                )
            tags[name] = sid
            self._commit(manifest)
            return sid
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass

    def delete_tag(self, name: str) -> None:
        """Remove a tag, releasing its snapshot's GC protection.
        Unknown names raise — a typo must not leave the real pin
        holding storage forever with no signal."""
        lock = self._acquire_lock()
        try:
            manifest = self._read_manifest()
            tags = manifest.get("tags", {})
            if name not in tags:
                raise KeyError(f"tag {name!r} not found")
            del tags[name]
            self._commit(manifest)
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass

    def tags(self) -> dict[str, int]:
        return dict(self._read_manifest().get("tags", {}))

    # ---- snapshot branches (Iceberg refs: multi-commit staging) ----
    # write_audit_publish stages ONE commit; a branch stages MANY: a
    # backfill or multi-step rewrite lands commit-by-commit on the
    # branch (each auditable via read(branch=...)), invisible to main
    # readers, then publishes atomically with fast_forward — or is
    # abandoned with delete_branch, costing main nothing. Branch
    # commits carry branch-LOCAL ids; real snapshot ids are assigned
    # at publish, under the commit lock, so concurrent main commits
    # can never collide with staged ones. Branch-referenced files are
    # GC-protected like tagged ones (expiry/orphan sweep treat them
    # as live).

    def _branch_state(self, manifest: dict, name: str) -> dict:
        br = manifest.get("branches", {}).get(name)
        if br is None:
            raise KeyError(f"branch {name!r} not found")
        return br

    @staticmethod
    def _branch_tail_files(br: dict) -> list[str]:
        snaps = br["snapshots"]
        return snaps[-1]["files"] if snaps else list(br["base_files"])

    def create_branch(
        self, name: str, from_snapshot: int | None = None
    ) -> int | None:
        """Open a named branch at ``from_snapshot`` (default: current
        tail; an empty table branches from nothing). The base's FILE
        LIST is captured so the branch stays readable even if the
        base snapshot later expires (its files are branch-protected,
        the log entry need not be)."""
        lock = self._acquire_lock()
        try:
            manifest = self._read_manifest()
            branches = manifest.setdefault("branches", {})
            if name in branches:
                raise ValueError(f"branch {name!r} already exists")
            base_snap = _snapshot(manifest, from_snapshot)
            base = base_snap["id"] if base_snap else None
            branches[name] = {
                "base": base,
                "base_files": list(
                    base_snap["files"] if base_snap else []
                ),
                # outstanding merge-on-read deletes at the base apply
                # to branch reads too (and are GC-protected while the
                # branch is open)
                "base_deletes": list(
                    base_snap.get("deletes", []) if base_snap else []
                ),
                "snapshots": [],
                "schema": manifest.get("schema"),
            }
            self._commit(manifest)
            return base
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass

    def branches(self) -> dict[str, dict]:
        return {
            n: {
                "base": b["base"],
                "commits": len(b["snapshots"]),
            }
            for n, b in self._read_manifest().get("branches", {}).items()
        }

    def append_to_branch(self, name: str, df: DataFrame) -> int:
        """Stage an append on the branch (schema evolution applies
        against the BRANCH's frame, like ``append`` does on main).
        Returns the branch-local commit number. Main readers see
        nothing until ``fast_forward``."""
        manifest = self._read_manifest()
        br = self._branch_state(manifest, name)
        spark = df.sparkSession
        cur = self._branch_tail_files(br)
        if br.get("schema") and cur:
            target = self._read_files(spark, cur, schema_json=br["schema"])
            df = align_for_append(df, target)
        files = self._write_data(df)
        return self.stage_branch_files(name, files, df.schema.json())

    def stage_branch_files(
        self,
        name: str,
        files: list[str],
        schema_json: str | None = None,
        txn: tuple[str, int] | None = None,
    ) -> int | None:
        """Splice already-written parquet ``files`` onto a branch as
        one staged append commit — the locked half of
        ``append_to_branch``, exposed so the connector's batch writer
        (executor-staged files) can target a branch (F49, the WAP
        write side through the public DataSource API). Returns the
        branch-local commit number, or None when ``txn=(app_id,
        version)`` matched an already-staged stamp — the idempotent-
        replay contract of ``_locked_commit``, against the BRANCH's
        own stamp ledger AND main's (``fast_forward`` merges branch
        stamps into main, so a replay arriving AFTER publish still
        no-ops instead of restaging published rows on a new branch
        of the same name). Callers must delete a skipped replay's
        re-staged files — this method never references them."""
        lock = self._acquire_lock()
        try:
            manifest = self._read_manifest()
            br = self._branch_state(manifest, name)
            if txn is not None:
                app_id, version = txn
                # MAX over both ledgers, not branch-first: a lower
                # stamp on this branch must not shadow a higher one
                # already PUBLISHED into main via another branch's
                # fast_forward — that replay would restage published
                # rows (r13 review)
                stamps = [
                    s
                    for s in (
                        br.get("txns", {}).get(app_id),
                        manifest.get("txns", {}).get(app_id),
                    )
                    if s is not None
                ]
                seen = max(stamps) if stamps else None
                if seen is not None and seen >= version:
                    return None
                br.setdefault("txns", {})[app_id] = int(version)
            tail = self._branch_tail_files(br)
            # per-file metadata lands at stage time so branch reads
            # can prune and publish is a pure manifest splice
            manifest.setdefault("file_stats", {}).update(
                self._file_stats(files)
            )
            manifest.setdefault("file_rows", {}).update(
                self._file_row_counts(files)
            )
            # seed the spec + transform registry exactly like the main
            # commit path: a table whose FIRST commits arrive via a
            # branch must not lose transform pruning on publish
            if self.partition_by and "partition_by" not in manifest:
                manifest["partition_by"] = self.partition_by
                self._record_transforms(manifest, self.partition_by)
            self._record_file_partitions(manifest, files)
            bid = len(br["snapshots"]) + 1
            br["snapshots"].append(
                {
                    "id": bid,
                    "operation": "append",
                    "ts": time.time(),
                    "files": tail + files,
                }
            )
            if schema_json:
                br["schema"] = schema_json
            self._commit(manifest)
            return bid
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass

    def fast_forward(
        self,
        name: str,
        spark: SparkSession | None = None,
        audit_rules: dict | None = None,
    ) -> int:
        """Publish the branch: splice its staged commits onto main
        (real snapshot ids assigned now, under the lock) and drop the
        branch ref. Fails with CommitConflict if main advanced past
        the branch's base — the staged commits were built against
        stale state; re-stage on a fresh branch (no silent merge).

        ``audit_rules`` (requires ``spark``): the branch TAIL — the
        exact state main readers would see — is audited through the
        expectations gate BEFORE publishing; a violation raises
        ExpectationsFailed and the branch stays open (append a
        correction commit and retry, or delete_branch). This is the
        multi-commit WAP: stage many commits, audit the combined
        result once, publish atomically."""
        audited_tail = None
        if audit_rules is not None:
            if spark is None:
                raise ValueError("audit_rules requires spark")
            from biglake_iceberg_pipeline_spark.operators.expectations import (
                ExpectationsFailed,
                check,
            )

            manifest = self._read_manifest()
            br = self._branch_state(manifest, name)
            audited_tail = list(self._branch_tail_files(br))
            if audited_tail:
                staged = self._read_files(
                    spark, audited_tail, schema_json=br.get("schema")
                )
                _, metrics = check(staged, audit_rules, "warn")
                if any(v > 0 for v in metrics.values()):
                    raise ExpectationsFailed(metrics)
        lock = self._acquire_lock()
        try:
            manifest = self._read_manifest()
            br = self._branch_state(manifest, name)
            # identity check, not a commit COUNT: a branch deleted and
            # recreated under the same name (even with the same number
            # of commits) between audit and lock must not publish
            # rows the audit never saw — the audited TAIL FILE LIST
            # is what was actually read
            if (
                audited_tail is not None
                and list(self._branch_tail_files(br)) != audited_tail
            ):
                raise CommitConflict(
                    f"branch {name!r} changed after the audit; "
                    "re-run fast_forward"
                )
            snaps = manifest["snapshots"]
            tail = snaps[-1]["id"] if snaps else None
            if tail != br["base"]:
                raise CommitConflict(
                    f"main advanced to snapshot {tail} (branch {name!r} "
                    f"based on {br['base']}); re-stage on a fresh branch"
                )
            last = tail
            base_deletes = list(br.get("base_deletes", []))
            for s in br["snapshots"]:
                last = self._next_id(manifest)
                entry = {**s, "id": last}
                # spliced commits are appends on top of the base
                # state: they carry the base's outstanding deletes —
                # dropping them would resurrect deleted rows at
                # publish time
                if base_deletes:
                    entry["deletes"] = base_deletes
                manifest["snapshots"].append(entry)
            if br["snapshots"] and br.get("schema"):
                self._guard_schema_transform_clash(
                    manifest, br["schema"]
                )
                manifest["schema"] = br["schema"]
            # branch-staged txn stamps survive the publish: a writer
            # replaying its epoch AFTER fast_forward must still no-op
            # (stage_branch_files checks main's ledger too) instead of
            # restaging published rows onto a fresh same-name branch
            for app, ver in br.get("txns", {}).items():
                ledger = manifest.setdefault("txns", {})
                if ledger.get(app) is None or ledger[app] < ver:
                    ledger[app] = ver
            del manifest["branches"][name]
            self._commit(manifest)
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass
        if last != tail:
            self._fire_commit_hooks("fast_forward", last)
        return last

    def delete_branch(self, name: str) -> None:
        """Abandon a branch: its staged files lose GC protection and
        the next orphan sweep reclaims them. Unknown names raise."""
        lock = self._acquire_lock()
        try:
            manifest = self._read_manifest()
            if name not in manifest.get("branches", {}):
                raise KeyError(f"branch {name!r} not found")
            del manifest["branches"][name]
            self._commit(manifest)
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass


    # ---- per-file Bloom filters (point-lookup file skipping) -------
    # Footer min/max prunes ranges; a point lookup on a column that
    # is NOT the clustering key intersects nearly every file's range.
    # Per-file blooms (operators/bloom.py — Iceberg puffin blooms /
    # parquet column bloom filters) answer "definitely not here" for
    # exact values. Same lifecycle as the NDV sketches: keyed by
    # immutable data file, sidecar blobs under stats/, refresh is
    # O(files lacking coverage), rewrites re-bloom on the next
    # refresh, expiry prunes pointers and GC reaps dead blobs, clones
    # carry referenced blobs.

    def _write_bloom_sidecar(self, blooms: dict[str, dict]) -> str:
        return self._write_stats_sidecar("bloom", blooms)

    def refresh_bloom_filters(
        self,
        spark: SparkSession,
        columns: list[str],
        fpp: float = 0.01,
        files: list[str] | None = None,
    ) -> int:
        """Build per-file Bloom filters for ``columns`` over every
        current-snapshot data file not yet covering them (or the
        explicit ``files``); returns the number of files bloomed.
        O(new data) after an append — already-covered files are never
        re-read. Only integer/string columns are bloomable (their
        canonical rendering is engine-stable); others raise.

        The scan is DISTRIBUTED: file paths fan out over executors
        and each task reads only its file's requested columns with
        pyarrow (the streaming source's executor-read pattern) — the
        driver sees one (file, col, filter) row per bloom, never the
        data. A file re-bloomed for new columns keeps its old
        columns too (the union is rebuilt, one blob read per file).
        """
        from biglake_iceberg_pipeline_spark.operators.bloom import (
            BLOOMABLE_PREFIXES,
        )

        manifest = self._read_manifest()
        schema_json = manifest.get("schema")
        if schema_json:
            declared = {
                f["name"]: f["type"]
                for f in json.loads(schema_json)["fields"]
                if isinstance(f.get("type"), str)
            }
            for c in columns:
                t = declared.get(c)
                if t is not None and not t.startswith(
                    BLOOMABLE_PREFIXES
                ):
                    raise ValueError(
                        f"column {c!r} has type {t}: only integer and "
                        "string columns are bloomable (canonical "
                        "str() rendering must be engine-stable)"
                    )
        snaps = manifest["snapshots"]
        live = snaps[-1]["files"] if snaps else []
        targets = list(files) if files is not None else list(live)
        ptr = manifest.get("bloom_sidecars", {})
        want: dict[str, list[str]] = {}
        for f in targets:
            entry = ptr.get(f)
            have = set(entry["cols"]) if entry else set()
            if not set(columns) <= have:
                want[f] = sorted(set(columns) | have)
        if not want:
            return 0

        import pandas as pd  # noqa: F401 (mapInPandas contract)

        cols_by_file = dict(want)
        the_fpp = fpp

        def gen(batches):
            import json as _json

            import pandas as _pd
            import pyarrow.parquet as _pq

            from biglake_iceberg_pipeline_spark.operators.bloom import (
                build_bloom,
            )

            for b in batches:
                rows = []
                for path in b["path"]:
                    pf = _pq.ParquetFile(path)
                    names = set(pf.schema_arrow.names)
                    n = pf.metadata.num_rows
                    for c in cols_by_file[path]:
                        if c not in names:
                            continue  # pre-evolution file: no column
                        vals = [
                            v
                            for v in pf.read(columns=[c])
                            .column(c)
                            .to_pylist()
                            if v is not None
                        ]
                        rows.append(
                            (
                                path,
                                c,
                                _json.dumps(
                                    build_bloom(
                                        vals, n_hint=n, fpp=the_fpp
                                    )
                                ),
                            )
                        )
                yield _pd.DataFrame(
                    rows, columns=["path", "col", "bloom"]
                )

        paths_df = spark.createDataFrame(
            [(f,) for f in want], "path string"
        ).repartition(min(len(want), 64))
        got = paths_df.mapInPandas(
            gen, "path string, col string, bloom string"
        ).collect()
        blob: dict[str, dict] = {}
        for r in got:
            blob.setdefault(r["path"], {})[r["col"]] = json.loads(
                r["bloom"]
            )
        rel = self._write_bloom_sidecar(blob)
        lock = self._acquire_lock()
        try:
            manifest = self._read_manifest()
            bp = manifest.setdefault("bloom_sidecars", {})
            for f, cols in want.items():
                bp[f] = {"blob": rel, "cols": cols}
            # durable opt-in record: maintain() re-blooms rewrites
            # from this column set even after expiry pruned every
            # per-file pointer (the pointers die with their files;
            # the table's bloom intent must not)
            manifest["bloom_columns"] = sorted(
                set(manifest.get("bloom_columns", [])) | set(columns)
            )
            self._commit(manifest)
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass
        return len(want)

    def compact_ndv_sidecars(self, max_blobs: int = 8) -> int:
        """Merge the stats sidecar blobs into one when refresh churn
        has scattered them (each refresh batch writes its own blob, so
        a streaming table accumulates O(refreshes) small files — the
        same fragmentation data files get, solved the same way).
        Returns the number of blobs merged, 0 when under the
        threshold. Old blobs become unreferenced and are reaped by
        the next expiry's GC once past the grace window."""
        lock = self._acquire_lock()
        try:
            manifest = self._read_manifest()
            ptr = manifest.get("ndv_sidecars", {})
            blobs = set(ptr.values())
            if len(blobs) <= max_blobs:
                return 0
            contents: dict[str, dict] = {}
            io = fileio_for(self.path)
            for rel in sorted(blobs):
                try:
                    contents[rel] = json.loads(
                        io.read_bytes(os.path.join(self.path, rel))
                    )
                except (OSError, ValueError):
                    continue  # lost blob: its pointers stay as-is
            # each file's sketch comes from its AUTHORITATIVE blob —
            # never from whichever blob happened to iterate last (a
            # superseded blob can carry a stale entry for the same
            # file)
            merged = {
                f: contents[rel][f]
                for f, rel in ptr.items()
                if rel in contents and f in contents[rel]
            }
            readable = set(contents)
            if len(readable) <= 1 or not merged:
                return 0
            new_rel = self._write_ndv_sidecar(merged)
            # pointers at unreadable blobs (or at entries a readable
            # blob is missing) are LEFT UNTOUCHED — the same
            # self-heal contract as everywhere else (re-sketch on
            # next refresh), never silently dropped coverage
            manifest["ndv_sidecars"] = {
                f: (new_rel if f in merged else rel)
                for f, rel in ptr.items()
            }
            # restart the GC grace clock on the superseded blobs: a
            # reader holding the PRE-compaction manifest must get the
            # full window to finish its blob opens — an hours-old
            # blob would otherwise be reaped by the very next expiry
            for rel in readable:
                io.touch(os.path.join(self.path, rel))
            self._commit(manifest)
            return len(readable)
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass


    def compact_bloom_sidecars(self, max_blobs: int = 8) -> int:
        """Merge scattered bloom sidecar blobs into one (the NDV
        compaction's twin — every refresh batch writes its own blob,
        so steady appends accumulate O(refreshes) small files).
        Same contracts: each file's filters come from its
        AUTHORITATIVE blob, pointers at unreadable blobs are left to
        self-heal, superseded blobs get a fresh GC grace clock."""
        lock = self._acquire_lock()
        try:
            manifest = self._read_manifest()
            ptr = manifest.get("bloom_sidecars", {})
            blobs = {e["blob"] for e in ptr.values()}
            if len(blobs) <= max_blobs:
                return 0
            contents: dict[str, dict] = {}
            io = fileio_for(self.path)
            for rel in sorted(blobs):
                try:
                    contents[rel] = json.loads(
                        io.read_bytes(os.path.join(self.path, rel))
                    )
                except (OSError, ValueError):
                    continue
            merged = {
                f: contents[e["blob"]][f]
                for f, e in ptr.items()
                if e["blob"] in contents and f in contents[e["blob"]]
            }
            readable = set(contents)
            if len(readable) <= 1 or not merged:
                return 0
            new_rel = self._write_bloom_sidecar(merged)
            manifest["bloom_sidecars"] = {
                f: (
                    {"blob": new_rel, "cols": e["cols"]}
                    if f in merged
                    else e
                )
                for f, e in ptr.items()
            }
            for rel in readable:
                io.touch(os.path.join(self.path, rel))
            self._commit(manifest)
            return len(readable)
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass

    def _gc_ndv_sidecars(self, manifest: dict) -> None:
        """Delete stats blobs no pointer references (all their files
        expired, or orphaned by a refresh that crashed before its
        pointer commit). MUST be called under the commit lock — no
        refresh can be adding pointers concurrently. The mtime grace
        window protects an in-flight refresh that has written its
        blob but not yet taken the lock."""
        io = fileio_for(self.path)
        stats_dir = os.path.join(self.path, "stats")
        referenced = set(manifest.get("ndv_sidecars", {}).values())
        referenced |= {
            e["blob"]
            for e in manifest.get("bloom_sidecars", {}).values()
        }
        now = time.time()
        for name in io.list(stats_dir):
            rel = os.path.join("stats", name)
            if rel not in referenced and name.startswith(
                ("ndv-", "bloom-")
            ):
                path = os.path.join(stats_dir, name)
                try:
                    if now - io.mtime(path) > 300:
                        io.delete(path)
                except OSError:
                    pass

    def _branch_protected_files(self, manifest: dict) -> set[str]:
        """Files any open branch references (base capture + staged
        commits) — live for GC purposes until the branch publishes
        or is deleted."""
        out: set[str] = set()
        for br in manifest.get("branches", {}).values():
            out.update(br.get("base_files", []))
            out.update(br.get("base_deletes", []))
            for s in br["snapshots"]:
                out.update(s["files"])
        return out

    # ---- write-audit-publish (Iceberg WAP) -------------------------

    @staticmethod
    def _stage_dir_of(files: list[str]) -> str | None:
        """The one ``snap-*`` staging directory a `_write_data` call
        produced (all its files live under it)."""
        d = os.path.dirname(files[0]) if files else ""
        while d and d != os.sep:
            if os.path.basename(d).startswith("snap-"):
                return d
            d = os.path.dirname(d)
        return None

    def _publish_append_files(
        self,
        spark: SparkSession,
        files: list[str],
        schema_json: str,
        txn: tuple[str, int] | None,
    ) -> int:
        """The shared append tail: atomic manifest commit of staged
        files + (committed-gated) incremental vector-index upkeep +
        post-commit hooks. Used by ``append`` and
        ``write_audit_publish`` so the commit/index/hook sequence has
        exactly one definition."""
        snap, committed = self._locked_commit(
            "append",
            files,
            self._file_stats(files),
            schema_json,
            inherit_prev_files=True,
            txn=txn,
        )
        # Gated on the lock-authoritative committed signal — a
        # txn-skipped replay must not index its orphaned files as
        # phantom rows.
        if committed and self._read_manifest().get("vector_indexes"):
            from pyspark.sql.types import StructType

            from biglake_iceberg_pipeline_spark.operators.vector_index import (
                maintain_lakehouse_indexes,
            )

            # overlay the committed schema, not the raw files:
            # add_files-registered externals may lack columns the
            # index needs (e.g. its id column) — they must surface
            # NULL like any read, not crash maintenance post-commit
            appended = spark.read.schema(
                StructType.fromJson(json.loads(schema_json))
            ).parquet(*files)
            maintain_lakehouse_indexes(self, appended)
        if committed:
            self._fire_commit_hooks("append", snap)
        return snap

    def write_audit_publish(
        self,
        df: DataFrame,
        rules: dict,
        txn: tuple[str, int] | None = None,
    ) -> tuple[int, dict]:
        """Iceberg's WAP pattern: STAGE the data files (invisible —
        readers only see manifest-referenced files), AUDIT exactly the
        bytes that would be published (the staged files are read back
        through the expectations gate), and PUBLISH atomically only on
        a clean audit. ANY audit failure — rule violations or a bad
        rule expression — removes the staging directory, so the table
        never exposes an unaudited row and never leaks staged files;
        a plain append-then-validate can guarantee neither. Returns
        (snapshot_id, violation_metrics)."""
        import shutil

        from biglake_iceberg_pipeline_spark.operators.expectations import (
            ExpectationsFailed,
            check,
        )

        spark = df.sparkSession
        manifest = self._read_manifest()
        if manifest["schema"] is not None and manifest["snapshots"]:
            target = self._read_files(
                spark, manifest["snapshots"][-1]["files"]
            )
            df = align_for_append(df, target)
        files = self._write_data(df)
        stage_dir = self._stage_dir_of(files)
        try:
            # basePath restores hive partition columns on partitioned
            # tables (a plain leaf-file read would drop them from the
            # audited frame)
            reader = spark.read
            if stage_dir is not None:
                reader = reader.option("basePath", stage_dir)
            staged = reader.parquet(*files)
            _, metrics = check(staged, rules, on_violation="warn")
        except Exception:
            if stage_dir is not None:
                shutil.rmtree(stage_dir, ignore_errors=True)
            raise
        if any(v > 0 for v in metrics.values()):
            if stage_dir is not None:
                shutil.rmtree(stage_dir, ignore_errors=True)
            raise ExpectationsFailed(metrics)
        snap = self._publish_append_files(spark, files, df.schema.json(), txn)
        return snap, metrics

    def clone_to(self, dest_path: str) -> "LakehouseTable":
        """Zero-copy shallow clone (BigQuery table clone / Delta
        SHALLOW CLONE): the clone's manifest references the SOURCE's
        data files — no data is copied, the clone is ready instantly
        regardless of table size. Both tables then evolve
        independently: data files are immutable, so writes on either
        side only add/retire references, never mutate shared bytes;
        the clone's own writes land under its own directory.

        GC safety — the part naive shallow clones get wrong: the
        clone is registered in the source manifest, and the source's
        ``expire_snapshots``/``sweep_orphans`` treat files referenced
        by any registered clone's manifest as live, so source
        maintenance cannot delete bytes a clone still reads. A clone
        whose directory disappears simply stops protecting anything.
        Conversely, either table only ever deletes files under its
        OWN path, so a clone's expiry can't reach into the source."""
        dest = LakehouseTable(dest_path, partition_by=self.partition_by)
        # cheap pre-lock guards (both re-checked under the locks)
        if dest._read_manifest()["snapshots"]:
            raise ValueError(f"{dest_path!r} already has snapshots")
        if not self._read_manifest()["snapshots"]:
            raise ValueError("cannot clone an empty table")
        # canonical lock ORDER (by path): concurrent clone_to A→B and
        # B→A must not each hold one lock while spinning on the other
        # for the full acquire timeout
        first, second = sorted(
            (self, dest), key=lambda t: os.path.realpath(t.path)
        )
        lock = first._acquire_lock()
        dest_lock = None
        try:
            dest_lock = second._acquire_lock()
            # the emptiness re-check must hold the DESTINATION's
            # commit lock: two concurrent clone_to calls to the same
            # dest both pass the unlocked check above, and the later
            # _commit would silently overwrite the earlier clone
            if dest._read_manifest()["snapshots"]:
                raise ValueError(f"{dest_path!r} already has snapshots")
            manifest = self._read_manifest()
            if not manifest["snapshots"]:
                raise ValueError("cannot clone an empty table")
            # deep copy — via to_plain(): json's C encoder reads raw
            # dict storage and would silently drop a _LazySnapshot's
            # unmaterialized file lists
            plain = dict(manifest)
            # the segment plan references SOURCE-owned segment files;
            # dest._commit re-splits into its own (it also validates
            # the plan's path, this just keeps the copy lean)
            plain.pop(_SEG_PLAN_KEY, None)
            plain["snapshots"] = [
                s.to_plain() if isinstance(s, _LazySnapshot) else s
                for s in manifest["snapshots"]
            ]
            cloned = json.loads(json.dumps(plain))
            cloned["cloned_from"] = self.path
            cloned.pop("clones", None)  # clones don't inherit clones
            # vector-index meta points at SOURCE-owned paths; if the
            # clone inherited it, its appends would write phantom rows
            # into the source's index — the clone builds its own
            cloned.pop("vector_indexes", None)
            # open branches stage source-side work-in-progress; a
            # clone starts from published state only
            cloned.pop("branches", None)
            # NDV sidecar pointers are table-relative: copy the
            # referenced stats blobs (KBs — metadata, not data) into
            # the clone so its ndv()/advisor stay scan-free and the
            # source's expiry can never reap a blob the clone reads
            carried_blobs = set(cloned.get("ndv_sidecars", {}).values())
            carried_blobs |= {
                e["blob"]
                for e in cloned.get("bloom_sidecars", {}).values()
            }
            src_io = fileio_for(self.path)
            dst_io = fileio_for(dest.path)
            for rel in carried_blobs:
                src_blob = os.path.join(self.path, rel)
                dst_blob = os.path.join(dest.path, rel)
                try:
                    dst_io.makedirs(os.path.dirname(dst_blob))
                    dst_io.write_atomic(
                        dst_blob, src_io.read_bytes(src_blob)
                    )
                except OSError:
                    # lost blob: the clone's pointers self-heal by
                    # re-sketching those files on its next refresh
                    pass
            dest._commit(cloned)
            manifest.setdefault("clones", [])
            if dest.path not in manifest["clones"]:
                manifest["clones"].append(dest.path)
            self._commit(manifest)
        finally:
            for lk in (dest_lock, lock):
                if lk is None:
                    continue
                try:
                    os.remove(lk)
                except OSError:
                    pass
        return dest

    def _clone_protected_files(self, manifest: dict) -> set[str]:
        """Files any registered clone still references (every snapshot
        of the clone — clones can time-travel), TRANSITIVELY: a
        clone-of-a-clone registers only on its direct parent, but may
        still reference this table's files, so the walk follows each
        clone's own ``clones`` list. A clone whose manifest is gone
        protects nothing (and neither do its descendants through it —
        re-cloning should re-register)."""
        protected: set[str] = set()
        queue = list(manifest.get("clones", []))
        seen: set[str] = set()
        while queue:
            clone_path = queue.pop()
            if clone_path in seen:
                continue
            seen.add(clone_path)
            try:
                cm = load_manifest(clone_path)
            except (OSError, ValueError):
                continue
            for s in cm.get("snapshots", []):
                protected.update(s["files"])
                protected.update(s.get("deletes", []))
            queue.extend(cm.get("clones", []))
        return protected

    @staticmethod
    def _walk_roots(*roots: str):
        """os.walk over several roots (data/ and deletes/ — orphaned
        merge-on-read delete files from crashed writers leak storage
        exactly like orphaned data files)."""
        for r in roots:
            yield from os.walk(r)

    def _owns(self, path: str) -> bool:
        """True iff ``path`` lies under this table's directory —
        deletion is only ever allowed for owned files (a clone's
        expiry must not reach into its source's storage)."""
        return os.path.realpath(path).startswith(
            os.path.realpath(self.path) + os.sep
        )

    def sweep_orphans(self, older_than_s: float = 3600.0) -> list[str]:
        """Delete data files on disk that no snapshot references
        (Iceberg remove_orphan_files): crashed writers and txn-skipped
        replays write files that never make it into a manifest — they
        are invisible to readers (scans are manifest-driven) but leak
        storage forever without a sweep.

        ``older_than_s`` is the safety grace period: a writer that has
        produced files but not yet committed looks exactly like an
        orphan, so only files older than the window are reclaimed
        (same reason Iceberg defaults to 3 days). Runs under the
        commit lock so the referenced-set can't change mid-sweep;
        returns the deleted paths."""
        data_root = os.path.join(self.path, "data")
        deletes_root = os.path.join(self.path, "deletes")
        lock = self._acquire_lock()
        try:
            manifest = self._read_manifest()
            live = {
                f
                for s in manifest["snapshots"]
                for f in s["files"] + s.get("deletes", [])
            }
            live |= self._clone_protected_files(manifest)
            live |= self._branch_protected_files(manifest)
            now = time.time()
            removed = []
            for root, _dirs, names in self._walk_roots(
                data_root, deletes_root
            ):
                for name in names:
                    path = os.path.join(root, name)
                    if path in live:
                        continue
                    try:
                        if now - os.path.getmtime(path) < older_than_s:
                            continue
                        os.remove(path)
                        removed.append(path)
                    except OSError:
                        continue  # concurrently removed / unreadable
            # segment files replaced by commits that crashed before
            # the core swap (or whose deletion failed) are orphans
            # too: anything the current core doesn't reference, past
            # the same grace window
            seg_dir = os.path.join(self.path, "_segments")
            io = fileio_for(self.path)
            seg_names = io.list(seg_dir)
            if seg_names:
                referenced: set[str] = set()
                if io.exists(self.manifest_path):
                    referenced = {
                        d["name"]
                        for d in json.loads(
                            io.read_bytes(self.manifest_path)
                        ).get("segments", [])
                    }
                for name in seg_names:
                    if name in referenced:
                        continue
                    p = os.path.join(seg_dir, name)
                    try:
                        if now - io.mtime(p) < older_than_s:
                            continue
                    except OSError:
                        continue
                    io.delete(p)
                    if io.exists(p):
                        # undeletable (permissions, open handle):
                        # io.delete is idempotent-quiet, so verify —
                        # reporting it removed would make maintain()'s
                        # orphan count lie (/code-review r10)
                        continue
                    removed.append(p)
            # prune now-empty snapshot dirs (cosmetic, keeps ls sane)
            for base in (data_root, deletes_root):
                for root, _dirs, _names in os.walk(base, topdown=False):
                    try:
                        if root != base and not os.listdir(root):
                            os.rmdir(root)
                    except OSError:
                        pass
            return removed
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass

    def expire_snapshots(
        self,
        keep_last: int = 2,
        older_than_ts: float | None = None,
    ) -> list[int]:
        """Drop old snapshot entries (and their no-longer-referenced
        data dirs); returns expired ids. Runs under the commit lock —
        expiry rewrites the snapshot list, so a concurrent append must
        not interleave.

        ``older_than_ts`` (r9; Iceberg's expire_snapshots
        ``older_than`` + ``retain_last`` semantics): when given, only
        snapshots whose commit timestamp is strictly BELOW it expire —
        ``keep_last`` still retains the newest N regardless of age, so
        the two compose as 'expire history older than X but always
        keep the last N'. Tagged snapshots never expire either way."""
        lock = self._acquire_lock()
        try:
            manifest = self._read_manifest()
            snaps = manifest["snapshots"]
            if len(snaps) <= keep_last:
                # still reap stats blobs orphaned by crashed
                # refreshes — on a low-churn table this early return
                # is the ONLY maintenance path that ever runs
                self._gc_ndv_sidecars(manifest)
                return []
            tagged = set(manifest.get("tags", {}).values())
            expired = [
                s
                for s in snaps[:-keep_last]
                if s["id"] not in tagged
                and (
                    older_than_ts is None
                    or s.get("ts", 0) < older_than_ts
                )
            ]
            expired_ids = {s["id"] for s in expired}
            kept = [s for s in snaps if s["id"] not in expired_ids]
            if not expired:
                self._gc_ndv_sidecars(manifest)
                return []
            live = {
                f
                for s in kept
                for f in s["files"] + s.get("deletes", [])
            }
            live |= self._clone_protected_files(manifest)
            live |= self._branch_protected_files(manifest)
            for s in expired:
                for f in s["files"] + s.get("deletes", []):
                    # _owns: a clone's expiry never deletes SOURCE
                    # files its retired snapshots referenced
                    if (
                        f not in live
                        and self._owns(f)
                        and os.path.exists(f)
                    ):
                        os.remove(f)
            manifest["snapshots"] = kept
            for per_file_key in (
                "file_stats",
                "file_partitions",
                "file_rows",
                "file_sizes",
                "file_ndv",
                "ndv_sidecars",
                "bloom_sidecars",
                "file_added_at",
                "delete_meta",
            ):
                if per_file_key in manifest:
                    manifest[per_file_key] = {
                        f: st
                        for f, st in manifest[per_file_key].items()
                        if f in live
                    }
            self._gc_ndv_sidecars(manifest)
            self._commit(manifest)
            return [s["id"] for s in expired]
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass

    def maintain(
        self,
        spark: SparkSession,
        max_files: int = 8,
        keep_snapshots: int = 5,
        orphan_grace_s: float = 3600.0,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        max_delete_files: int = 4,
        target_file_bytes: int | None = None,
        delete_tail_mode: str = "materialize",
    ) -> dict:
        """The nightly maintenance job (Iceberg's rewrite_data_files +
        expire_snapshots + remove_orphan_files as one call): compact
        when the live file count exceeds ``max_files`` OR the
        merge-on-read delete tail exceeds ``max_delete_files``
        (Iceberg's rewrite_position_delete_files concern — a table
        taking steady MoR deletes with few data files would otherwise
        accumulate anti-joins on every read forever), optionally
        sort/z-order clustering while at it, expire old snapshots,
        sweep orphans. Returns what was done. Streaming appends create
        one-file-per-batch fragmentation; running this on a schedule
        keeps scans at O(max_files) opens instead of O(batches).

        ``delete_tail_mode`` picks the over-long-tail remedy:
        ``"materialize"`` (default) rewrites the delete-affected data
        files; ``"rewrite"`` / ``"dv"`` instead consolidate the
        tail itself (``rewrite_position_deletes`` with equality
        deletes resolved into coordinates, the latter encoding as
        deletion vectors) — zero data write amplification, the
        right call when deletes churn faster than compaction
        should."""
        if delete_tail_mode not in ("materialize", "rewrite", "dv"):
            raise ValueError(
                f"unknown delete_tail_mode {delete_tail_mode!r}: "
                "pass 'materialize', 'rewrite', or 'dv'"
            )
        report: dict = {
            "compacted_from": None,
            "compact_conflict": False,
            "expired_snapshots": [],
            "orphans_removed": 0,
            "deletes_materialized": 0,
            "deletes_rewritten": 0,
        }
        snaps = self.snapshots
        compact_target = max_files
        files_over = snaps and len(snaps[-1]["files"]) > max_files
        # size-aware trigger (Iceberg rewrite_data_files sizing): a
        # table can sit under the FILE-COUNT threshold while every
        # file is tiny (steady small appends with aggressive expiry)
        # — if the manifest-recorded sizes say the live set averages
        # under half the target, rewrite even at a low file count,
        # and target the file count the BYTES imply (40 KB of data
        # at a 1 MB target becomes 1 file, not max_files tiny ones).
        # Metadata-only decision: no stat, no scan.
        if (
            not files_over
            and target_file_bytes is not None
            and snaps
            and len(snaps[-1]["files"]) > 1
        ):
            sizes = self._read_manifest().get("file_sizes", {})
            live = snaps[-1]["files"]
            known = [sizes[f] for f in live if f in sizes]
            if len(known) == len(live) and known and (
                sum(known) / len(known) < target_file_bytes / 2
            ):
                files_over = True
                import math as _math

                compact_target = max(
                    1,
                    min(
                        max_files,
                        _math.ceil(sum(known) / target_file_bytes),
                    ),
                )
        dels_over = (
            snaps
            and len(snaps[-1].get("deletes", [])) > max_delete_files
        )
        if files_over:
            try:
                self.compact(
                    spark,
                    target_files=compact_target,
                    sort_by=sort_by,
                    zorder_by=zorder_by,
                )
                report["compacted_from"] = len(snaps[-1]["files"])
                report["deletes_materialized"] = len(
                    snaps[-1].get("deletes", [])
                )
            except CommitConflict:
                # a writer appended during the rewrite (the normal
                # state of a streaming table) — skip compaction this
                # run rather than aborting expiry + sweep; the next
                # scheduled run retries
                report["compact_conflict"] = True
        elif dels_over:
            # delete tail too long but the file count is healthy:
            # targeted materialization rewrites only delete-affected
            # files instead of the whole table — or, under
            # delete_tail_mode 'rewrite'/'dv', consolidate the tail
            # itself with no data write amplification
            try:
                if delete_tail_mode == "materialize":
                    self.materialize_deletes(spark)
                    report["deletes_materialized"] = len(
                        snaps[-1].get("deletes", [])
                    )
                else:
                    before = len(snaps[-1].get("deletes", []))
                    # resolve_equality: eq deletes fold into the
                    # consolidated coordinates too, so the rewrite
                    # modes fully replace materialization (an all-eq
                    # over-threshold tail would otherwise never
                    # shrink) and row_count() stays metadata-exact
                    self.rewrite_position_deletes(
                        spark,
                        as_dv=delete_tail_mode == "dv",
                        resolve_equality=True,
                    )
                    report["deletes_rewritten"] = before
            except CommitConflict:
                report["compact_conflict"] = True
        report["expired_snapshots"] = self.expire_snapshots(
            keep_last=keep_snapshots
        )
        report["orphans_removed"] = len(
            self.sweep_orphans(older_than_s=orphan_grace_s)
        )
        # keep NDV stats warm across the compaction's file rewrite —
        # only for tables that opted into sketch stats (ndv() ran at
        # least once), so maintenance stays metadata-only elsewhere
        # key presence, not truthiness: a compaction + expiry can
        # leave the dict momentarily empty for an opted-in table
        manifest = self._read_manifest()
        if "ndv_sidecars" in manifest or "file_ndv" in manifest:
            report["ndv_files_sketched"] = self.refresh_ndv_sketches(spark)
            report["ndv_sidecars_compacted"] = self.compact_ndv_sidecars()
        if "bloom_sidecars" in manifest:
            # bloom opt-in: re-bloom rewrite output for the recorded
            # column set, so a compaction doesn't silently retire
            # point-lookup pruning (the per-file pointers die with
            # their files in expiry; bloom_columns records intent)
            cols = manifest.get("bloom_columns") or sorted(
                {
                    c
                    for e in manifest["bloom_sidecars"].values()
                    for c in e["cols"]
                }
            )
            if cols:
                report["bloom_files_refreshed"] = (
                    self.refresh_bloom_filters(spark, cols)
                )
                report["bloom_sidecars_compacted"] = (
                    self.compact_bloom_sidecars()
                )
        report["manifest_segments_compacted"] = (
            self.compact_manifest_segments()
        )
        return report

    def compact_manifest_segments(self, max_segments: int = 32) -> int:
        """Merge the manifest's segment files back into one when
        their count exceeds ``max_segments`` (the NDV/bloom sidecar
        compaction's twin, for the F40 segmented manifest): a
        never-expiring append-only table seals a new segment every 64
        snapshots, and while reads cache sealed segments, a COLD open
        pays one file read per segment — maintenance folds them so
        the cold open stays O(1) files. Expiry usually does this as a
        side effect (snapshot removal forces a full re-split); this
        covers tables whose maintenance retains all history. Returns
        the number of segments folded away (0 = under threshold).
        One O(history) rewrite under the commit lock — maintenance-
        grade, same class as data-file compaction."""
        lock = self._acquire_lock()
        try:
            manifest = self._read_manifest()
            plan = manifest.get(_SEG_PLAN_KEY)
            n = len(plan["segments"]) if plan else 0
            if n <= max_segments:
                return 0
            old_names = [p["name"] for p in plan["segments"]]
            manifest.pop(_SEG_PLAN_KEY, None)  # force full re-split
            self._commit(manifest)
            # popping the plan means _commit couldn't know which
            # segment files it replaced — reap the captured names
            # (minus any the re-split happened to reuse) here, after
            # the core swap, exactly like _commit's own obsolete list
            # (review r9: they otherwise linger until sweep_orphans'
            # grace window, an O(history) JSON copy per compaction)
            io = fileio_for(self.path)
            kept = {
                d["name"]
                for d in json.loads(
                    io.read_bytes(self.manifest_path)
                ).get("segments", [])
            }
            seg_dir = os.path.join(self.path, "_segments")
            for name in old_names:
                if name not in kept:
                    io.delete(os.path.join(seg_dir, name))
            return n - len(kept)
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass

    # ---- merge-on-read row-level deletes (Iceberg v2 delete files) --
    # A DELETE/MERGE at 100 TB must not rewrite 100 TB: instead of the
    # copy-on-write rewrite, a merge-on-read commit writes a SMALL
    # delete file and leaves every data file in place —
    #   * position deletes: (file_path, pos) rows naming exactly the
    #     deleted rows (written by delete_where(mode="merge-on-read")),
    #   * equality deletes: key rows that void any OLDER data row with
    #     a matching key (written by merge(mode="merge-on-read")).
    # Readers overlay them as broadcast anti-joins; compaction
    # materializes them back into plain data files. The tail format,
    # its kinds and the added_at scoping live in sinks/deletes.py;
    # this class only writes delete files and commits them. This is
    # Iceberg's format-v2 row-level delete design re-expressed on the
    # JSON manifest: the commit costs O(matched rows), reads cost one extra
    # broadcast join until the next compaction.

    def _write_delete_file(self, df: DataFrame) -> list[str]:
        """Write a delete frame under ``deletes/``. coalesce(1): delete
        files are meant to be small relative to data (a bulk delete
        should use the copy-on-write path — rewriting is cheaper than
        anti-joining half the table on every read)."""
        out = os.path.join(
            self.path, "deletes", f"del-{uuid.uuid4().hex[:12]}"
        )
        df.coalesce(1).write.mode("overwrite").parquet(out)
        found = []
        for root, _dirs, names in os.walk(out):
            found += [
                os.path.join(root, n)
                for n in names
                if n.endswith(".parquet")
            ]
        return sorted(found)

    def _read_snapshot(
        self,
        spark: SparkSession,
        snap: dict,
        manifest: dict,
        schema_json: str | None = None,
        renames=...,
    ) -> DataFrame:
        """A snapshot's logical rows: its file list with its delete
        tail applied (the one read-side entry point every full read —
        read / scan / compact / copy-on-write rewrites — goes
        through). ``schema_json``/``renames`` override the overlay
        for as-of-schema time travel."""
        deletes = snap.get("deletes", [])
        if not deletes:
            return self._read_files(
                spark,
                snap["files"],
                schema_json=schema_json,
                renames=renames,
            )
        df = self._read_files(
            spark,
            snap["files"],
            schema_json=schema_json,
            with_meta=True,
            renames=renames,
        )
        df = apply_deletes(spark, df, manifest, deletes)
        return df.drop("__file", "__pos")

    def delete_where_mor(
        self,
        spark: SparkSession,
        condition,
        ranges: dict[str, tuple] | None = None,
    ) -> int:
        """Merge-on-read DELETE: write a position-delete file naming
        the matching rows instead of rewriting the table — commit cost
        O(matched rows + scanned files), not O(table). ``ranges`` (same
        shape as ``scan``) prunes the files scanned for matches via
        manifest stats; it MUST be implied by ``condition`` — rows
        outside the ranges are not scanned and so not deleted.

        The match scan runs against the delete-APPLIED current state,
        so a row already deleted can never be re-deleted — which keeps
        ``row_count``'s position-delete subtraction exact. A no-match
        delete commits nothing and returns the current snapshot id.
        Readers pay one broadcast anti-join until ``compact``/
        ``maintain`` materializes the deletes."""
        import shutil

        manifest = self._read_manifest()
        snaps = manifest["snapshots"]
        if not snaps:
            raise ValueError("empty table")
        snap = snaps[-1]
        base = snap["id"]
        cand = (
            self.pruned_files(ranges) if ranges else list(snap["files"])
        )
        if isinstance(condition, str):
            condition = F.expr(condition)
        if not cand:
            return base
        df = self._read_files(spark, cand, with_meta=True)
        df = apply_deletes(
            spark, df, manifest, snap.get("deletes", [])
        )
        matches = df.where(condition).select(
            F.col("__file").alias("file_path"),
            F.col("__pos").alias("pos"),
        )
        new_files = self._write_delete_file(matches)
        if sum(self._file_row_counts(new_files).values()) == 0:
            shutil.rmtree(
                os.path.dirname(new_files[0]), ignore_errors=True
            )
            return base
        snap_id = self._locked_commit(
            "delete",
            [],
            {},
            None,
            expected_tail=base,
            inherit_prev_files=True,
            delete_files=snap.get("deletes", []) + new_files,
            delete_meta={p: {"kind": "position"} for p in new_files},
        )[0]
        self._fire_commit_hooks("delete", snap_id)
        return snap_id

    def materialize_deletes(self, spark: SparkSession) -> int:
        """Targeted delete materialization (Iceberg's
        rewrite_position_delete_files / delete-aware
        rewrite_data_files): rewrite ONLY the data files the
        outstanding merge-on-read deletes can touch, carry every
        other file into the new snapshot unchanged, and commit with
        an empty delete tail. ``compact()`` also materializes, but
        rewrites the WHOLE table — the point of MoR deletes at
        100 TB is that a handful of deleted rows must not force an
        O(table) rewrite even at cleanup time; this costs
        O(affected files).

        Affected files come from ``plan_deletes``: position deletes
        and deletion vectors name theirs outright; equality deletes
        are scoped by the added_at watermark and pruned by footer
        key ranges (conservative — a range overlap without a key
        match just rewrites a file to identical content, never
        misses a deletion). A by-reference position file's row-group
        stats only bound the files it names, so its exact names are
        read — the rewrite touches exactly the named files. Returns
        the new snapshot id (the current one when nothing is
        outstanding)."""
        manifest = self._read_manifest()
        snaps = manifest["snapshots"]
        if not snaps:
            raise ValueError("empty table")
        snap = snaps[-1]
        base = snap["id"]
        deletes = snap.get("deletes", [])
        if not deletes:
            return base
        plan = plan_deletes(manifest, deletes, snap["files"])
        refs = sorted({d for fd in plan.values() for d in fd.pos_refs})
        named = (
            {
                r.file_path
                for r in spark.read.parquet(*refs)
                .select("file_path")
                .distinct()
                .collect()
            }
            if refs
            else set()
        )
        affected = {
            f
            for f, fd in plan.items()
            if fd.pos or fd.dv_refs or fd.eq or f in named
        }
        carried = [f for f in snap["files"] if f not in affected]
        new_files: list[str] = []
        if affected:
            df = self._read_files(
                spark, sorted(affected), with_meta=True
            )
            df = apply_deletes(spark, df, manifest, deletes)
            new_files = self._write_data(
                df.drop("__file", "__pos"),
                spec=manifest.get("partition_by", self.partition_by),
            )
        snap_id = self._locked_commit(
            "replace",
            carried + new_files,
            self._file_stats(new_files),
            None,
            expected_tail=base,
            delete_files=[],
            # row-preserving: the delete rows already vanished from
            # reads when the MoR delete snapshot committed; this
            # commit only folds them into the data files
            data_change=False,
        )[0]
        self._fire_commit_hooks("replace", snap_id)
        return snap_id

    def rewrite_position_deletes(
        self,
        spark: SparkSession,
        as_dv: bool = False,
        resolve_equality: bool = False,
    ) -> int:
        """Consolidate the merge-on-read POSITION-delete tail without
        touching data files (Iceberg's
        rewrite_position_delete_files): a table taking steady MoR
        deletes accumulates one delete file per commit and every
        read overlays ALL of them — this folds the position tail
        (plus any prior deletion-vector entries) into ONE file,
        sorted by (file_path, pos) and deduplicated, so read
        planning stays O(delete tail)=O(1 file) and row-group
        file_path statistics prune by-reference executor reads
        tightly. ``as_dv=True`` encodes the result as deletion
        vectors instead (Iceberg v3's shape): one row per affected
        data file, the positions as a delta+deflate blob
        (``encode_dv``) readers decode executor-side — task payloads
        O(1) under any tail size.

        Equality deletes are carried UNTOUCHED by default: their
        ``applies_to`` watermarks scope different data-file sets and
        cannot merge as-is. ``resolve_equality=True`` instead
        RESOLVES them into positions (Iceberg v3's
        convert-equality-deletes maintenance): one scan of the
        watermark+key-range-pruned candidate files (the
        ``materialize_deletes`` pruning, shared) re-matches each
        delete's keys exactly as the read overlay would and folds
        the matched coordinates into the consolidated tail — the eq
        files leave the tail entirely, every read drops their
        broadcast anti-joins, and ``row_count()`` becomes
        metadata-exact again. O(candidate file rows) read, zero
        data write amplification.

        Commits ``op='replace', data_change=False`` — the logical
        row set is unchanged, so streams, incremental scans, and
        change feeds ride through emitting nothing. The replaced
        delete files stay referenced by older snapshots until expiry
        reaps them. Returns the new snapshot id (the current one
        when the tail is already consolidated)."""
        manifest = self._read_manifest()
        snaps = manifest["snapshots"]
        if not snaps:
            raise ValueError("empty table")
        snap = snaps[-1]
        base = snap["id"]
        tail = snap.get("deletes", [])
        kinds = by_kind(manifest, tail)
        pos, dvs, eqs = kinds["position"], kinds["dv"], kinds["equality"]
        src = pos + dvs
        resolving = resolve_equality and bool(eqs)
        if not resolving:
            if not src:
                return base
            if len(src) == 1 and bool(dvs) == bool(as_dv):
                # a lone DV is consolidated by construction; a lone
                # position file only counts if its row-group
                # file_path spans are already clustered — one big
                # delete commit can write scan-partition order that
                # by-reference readers prune loosely forever
                if dvs or pos_delete_file_clustered(src[0]):
                    return base
        frames = coordinate_frame(spark, manifest, src)
        if resolving:
            # resolve each equality delete into the exact (file,
            # pos) coordinates the read overlay would void: scan
            # only the planner's candidate files, then apply the
            # overlay's own matching rule as a semi join
            cand = sorted(
                f
                for f, fd in plan_deletes(
                    manifest, eqs, snap["files"]
                ).items()
                if fd.eq
            )
            if cand:
                matched = eq_delete_join(
                    spark,
                    self._read_files(spark, cand, with_meta=True),
                    manifest,
                    eqs,
                    "left_semi",
                ).select(
                    F.col("__file").alias("file_path"),
                    F.col("__pos").alias("pos"),
                )
                frames = (
                    matched
                    if frames is None
                    else frames.unionByName(matched)
                )
        if frames is None:
            # eq deletes resolved to zero candidates and no position
            # sources: the tail empties outright
            all_pos = None
        else:
            all_pos = frames.dropDuplicates(["file_path", "pos"])
        new_files: list[str] = []
        if all_pos is not None:
            if as_dv:
                import pandas as pd

                def _enc(pdf: "pd.DataFrame") -> "pd.DataFrame":
                    vals = pdf["pos"].to_numpy()
                    return pd.DataFrame(
                        {
                            "file_path": [pdf["file_path"].iloc[0]],
                            "dv": [encode_dv(vals)],
                            "ndel": [int(len(set(vals.tolist())))],
                        }
                    )

                out = (
                    all_pos.groupBy("file_path")
                    .applyInPandas(
                        _enc, "file_path string, dv binary, ndel long"
                    )
                    .coalesce(1)
                    .sortWithinPartitions("file_path")
                )
            else:
                out = all_pos.coalesce(1).sortWithinPartitions(
                    "file_path", "pos"
                )
            new_files = self._write_delete_file(out)
            if (
                sum(self._file_row_counts(new_files).values()) == 0
            ):
                # every source delete resolved to nothing (eq keys
                # matching no surviving candidate rows): drop the
                # empty file and commit a clean tail
                import shutil

                shutil.rmtree(
                    os.path.dirname(new_files[0]),
                    ignore_errors=True,
                )
                new_files = []
        if not new_files:
            new_meta: dict = {}
        elif as_dv:
            import pyarrow.parquet as _pq

            new_meta = {}
            for nf in new_files:
                col = _pq.read_table(nf, columns=["ndel"]).column(
                    "ndel"
                )
                # per-blob-file voided-position total: row_count()
                # subtracts it metadata-only (the parquet row count
                # is #affected files, not #positions)
                new_meta[nf] = {
                    "kind": "dv",
                    "rows": int(sum(col.to_pylist())),
                }
        else:
            new_meta = {nf: {"kind": "position"} for nf in new_files}
        snap_id = self._locked_commit(
            "replace",
            [],
            {},
            None,
            expected_tail=base,
            inherit_prev_files=True,
            delete_files=new_files + ([] if resolving else eqs),
            delete_meta=new_meta,
            # row-preserving: the same rows were already voided when
            # the original delete commits landed; this re-encodes
            # the tail only
            data_change=False,
        )[0]
        self._fire_commit_hooks("replace", snap_id)
        return snap_id

    # ------------------------------------------------------------ reads

    def snapshot_as_of(self, ts: float) -> int:
        """The snapshot current AT wall-clock time ``ts`` (unix
        seconds): the last snapshot committed at or before it —
        Iceberg/Delta's ``FOR SYSTEM_TIME AS OF`` resolution against
        the commit timestamps the manifest already records. Raises
        SnapshotNotFoundError when ``ts`` predates the table (or the
        snapshot that covered it has been expired)."""
        best = None
        for s in self.snapshots:
            if s["ts"] <= ts:
                best = s["id"]
        if best is None:
            raise SnapshotNotFoundError(
                f"no snapshot at or before ts={ts} (pre-creation, "
                "or expired by maintenance)"
            )
        return best

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        tag: str | None = None,
        branch: str | None = None,
        as_of_ts: float | None = None,
        use_snapshot_schema: bool = False,
    ) -> DataFrame:
        """Read latest, time-travel to a snapshot id or a wall-clock
        timestamp (``as_of_ts``, unix seconds — SYSTEM_TIME AS OF),
        resolve a named tag, or read a BRANCH's staged state
        (``snapshot_id`` / ``tag`` / ``branch`` / ``as_of_ts`` are
        mutually exclusive).

        Time travel reads with the CURRENT schema by default (the
        Delta convention this repo has pinned since the rename work:
        history surfaces under today's names). Iceberg instead reads
        with the schema the snapshot committed under —
        ``use_snapshot_schema=True`` selects that: the overlay schema
        and the rename-vintage map both resolve AS OF the target
        snapshot from the schema log (tables predating the log fall
        back to the current schema for pre-log snapshots)."""
        if as_of_ts is not None:
            if (
                snapshot_id is not None
                or tag is not None
                or branch is not None
            ):
                raise ValueError(
                    "pass snapshot_id, tag, branch, or as_of_ts — "
                    "not several"
                )
            snapshot_id = self.snapshot_as_of(as_of_ts)
        manifest = self._read_manifest()  # ONE read: tag + snapshot
        if branch is not None:
            if snapshot_id is not None or tag is not None:
                raise ValueError(
                    "pass snapshot_id, tag, or branch — not several"
                )
            br = self._branch_state(manifest, branch)
            files = self._branch_tail_files(br)
            if not files:
                raise ValueError(f"branch {branch!r} has no data")
            base_deletes = br.get("base_deletes", [])
            if not base_deletes:
                return self._read_files(
                    spark, files, schema_json=br.get("schema")
                )
            # the base snapshot's outstanding deletes apply to its
            # files on the branch too; branch-STAGED files are never
            # in file_added_at, so equality deletes scope past them
            df = self._read_files(
                spark,
                files,
                schema_json=br.get("schema"),
                with_meta=True,
            )
            df = apply_deletes(spark, df, manifest, base_deletes)
            return df.drop("__file", "__pos")
        if tag is not None:               # resolution stay consistent
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id or tag, not both")
            tags = manifest.get("tags", {})
            if tag not in tags:
                raise SnapshotNotFoundError(f"tag {tag!r} not found")
            snapshot_id = tags[tag]
        if not manifest["snapshots"]:
            raise ValueError(f"no snapshots in {self.path}")
        snap = _snapshot(manifest, snapshot_id)
        if use_snapshot_schema:
            return self._read_snapshot(
                spark,
                snap,
                manifest,
                schema_json=self._schema_as_of(manifest, snap["id"]),
                renames=self._renames_as_of(manifest, snap["id"]),
            )
        return self._read_snapshot(spark, snap, manifest)

    @staticmethod
    def _schema_as_of(manifest: dict, snapshot_id: int) -> str | None:
        """The committed schema in effect AT ``snapshot_id`` per the
        schema log; current schema when the snapshot predates logging
        (pre-feature tables — the honest fallback)."""
        best = None
        for e in manifest.get("schema_log", ()):
            if e["at"] <= snapshot_id:
                best = e["schema"]
        return best if best is not None else manifest.get("schema")

    @staticmethod
    def _renames_as_of(
        manifest: dict, snapshot_id: int
    ) -> dict[str, list[str]] | None:
        """The rename-vintage map with only journal entries committed
        at or before ``snapshot_id`` — an as-of read must not
        coalesce names a LATER rename introduced."""
        return _rename_map_from(
            [
                r
                for r in manifest.get("column_renames") or []
                if r.get("at") is None or r["at"] <= snapshot_id
            ]
        )

    def pruned_files(
        self,
        ranges: dict[str, tuple],
        snapshot_id: int | None = None,
    ) -> list[str]:
        """File-level skip list for range predicates: keep a file only
        if its footer [min, max] intersects every requested range.
        ``ranges`` maps column → (lo, hi), either bound None for open.
        Files without stats for a column are conservatively kept.

        On a partitioned table, partition columns prune EXACTLY from
        the hive-path values in the manifest (no footer needed) —
        partition pruning runs first, then footer stats skip within
        the surviving partitions."""
        return self.pruned_files_any([ranges], snapshot_id)

    def pruned_files_any(
        self,
        probes: list[dict],
        snapshot_id: int | None = None,
    ) -> list[str]:
        """Union of ``pruned_files`` over several range dicts with ONE
        manifest read and a SHARED bloom-blob cache — the IN-list
        planning shape (the batch connector probes each value as a
        point range; per-probe manifest parses would turn planning
        into a scan of its own). File order follows the snapshot."""
        manifest = self._read_manifest()
        snap = _snapshot(manifest, snapshot_id)
        if snap is None:
            return []  # empty table: nothing to keep
        blob_cache: dict[str, dict | None] = {}
        keep: set = set()
        for ranges in probes:
            keep.update(
                self._pruned_files_for(
                    manifest, snap, ranges, blob_cache
                )
            )
        return [f for f in snap["files"] if f in keep]

    def _pruned_files_for(
        self,
        manifest: dict,
        snap: dict,
        ranges: dict[str, tuple],
        blob_cache: dict,
    ) -> list[str]:
        stats = manifest.get("file_stats", {})
        fparts = manifest.get("file_partitions", {})
        # bloom probes apply to EQUALITY points (lo == hi) on int/str
        # values — the lookup shape min/max can't prune when the
        # column isn't the sort key. Blob contents are lazy-loaded and
        # memoized per call; a missing/lost blob keeps conservatively.
        bloom_ptr = manifest.get("bloom_sidecars", {})
        points = {
            col: lo
            for col, (lo, hi) in ranges.items()
            if lo is not None
            and lo == hi
            and isinstance(lo, (int, str))
            and not isinstance(lo, bool)
        }
        ren = column_rename_map(manifest)  # hoisted: O(1) per scan

        def _bloom_rejects(f: str) -> bool:
            entry = bloom_ptr.get(f)
            if not entry or not points:
                return False
            from biglake_iceberg_pipeline_spark.operators.bloom import (
                might_contain,
            )

            rel = entry["blob"]
            if rel not in blob_cache:
                try:
                    blob_cache[rel] = json.loads(
                        fileio_for(self.path).read_bytes(
                            os.path.join(self.path, rel)
                        )
                    )
                except (OSError, ValueError):
                    blob_cache[rel] = None  # lost blob: keep files
            blob = blob_cache[rel]
            if blob is None:
                return False
            per_col = blob.get(f, {})
            for col, v in points.items():
                b = per_col.get(col)
                if b is None and ren:
                    # rename: a bloom built under a prior name is
                    # byte-valid for the current one (data unchanged)
                    for p in ren.get(col, ()):
                        b = per_col.get(p)
                        if b is not None:
                            break
                if b is not None and not might_contain(b, v):
                    return True  # definitely absent from this file
            return False
        # hidden-partitioning: map source-column predicates onto the
        # derived hive values recorded per file (src → [(derived
        # name, descriptor)]) — this is how a predicate on ts prunes
        # p_ts_day=... directories without the user ever naming them
        by_src: dict[str, list] = {}
        for name, te in manifest.get("partition_transforms", {}).items():
            by_src.setdefault(te["src"], []).append((name, te))
        # bound images depend only on (transform, lo, hi): compute
        # once per range column, not once per file
        timages: dict[str, list] = {}
        for col, (lo, hi) in ranges.items():
            imgs = []
            for name, te in by_src.get(col, ()):
                b = _transform_bounds(te, lo, hi)
                if b is not None:
                    imgs.append((name, b[0], b[1]))
            if imgs:
                timages[col] = imgs
        ren = column_rename_map(manifest)
        out = []
        for f in snap["files"]:
            fstats = dict(stats.get(f, {}))
            if ren:
                # footer ranges recorded under a prior column name
                # stay byte-valid after a metadata-only rename
                for cur, priors in ren.items():
                    if cur not in fstats:
                        for p in priors:
                            if p in fstats:
                                fstats[cur] = fstats[p]
                                break
            fp_f = fparts.get(f, {})
            for col, raw in fp_f.items():
                v = self._coerce_partition_value(raw, ranges.get(col))
                if v is not None:
                    fstats[col] = [v, v]  # exact: min == max
            keep = True
            for col, (lo, hi) in ranges.items():
                if col in fstats:
                    fmin, fmax = fstats[col]
                    if (hi is not None and fmin > hi) or (
                        lo is not None and fmax < lo
                    ):
                        keep = False
                        break
                for name, blo, bhi in timages.get(col, ()):
                    raw = fp_f.get(name)
                    if raw is None:
                        continue  # file not laid out by this transform
                    # derived values are fixed-width strings (time
                    # formats, truncate) or a single-bucket equality,
                    # so string comparison is order-correct
                    if (bhi is not None and raw > bhi) or (
                        blo is not None and raw < blo
                    ):
                        keep = False
                        break
                if not keep:
                    break
            if keep and _bloom_rejects(f):
                keep = False
            if keep:
                out.append(f)
        return out

    @staticmethod
    def _coerce_partition_value(raw, bounds):
        """Raw hive-path string → the bound's type for comparison.
        None (unparseable / NULL partition / no predicate) means the
        file is conservatively kept."""
        if raw is None or bounds is None:
            return None
        probe = bounds[0] if bounds[0] is not None else bounds[1]
        if isinstance(probe, bool) or probe is None:
            return None
        if isinstance(probe, (int, float)):
            try:
                return float(raw)
            except ValueError:
                return None
        if isinstance(probe, str):
            return raw
        return None

    def scan(
        self,
        spark: SparkSession,
        ranges: dict[str, tuple] | None = None,
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """Read with manifest-level data skipping (Iceberg file
        pruning): files whose footer min/max can't satisfy ``ranges``
        are never opened — at 100 TB on time- or key-sorted data this
        is the difference between scanning a partition and scanning
        the table. The exact range filter is re-applied on the
        surviving rows, so results equal read()+filter regardless of
        how coarse the file stats are."""
        if not ranges:
            return self.read(spark, snapshot_id)
        files = self.pruned_files(ranges, snapshot_id)
        if not files:
            df = self.read(spark, snapshot_id)
        else:
            manifest = self._read_manifest()
            deletes = _snapshot(manifest, snapshot_id).get("deletes", [])
            if deletes:
                # merge-on-read overlay on the pruned subset: position
                # deletes naming pruned-out files simply never match
                df = self._read_files(spark, files, with_meta=True)
                df = apply_deletes(spark, df, manifest, deletes)
                df = df.drop("__file", "__pos")
            else:
                df = self._read_files(spark, files)
        cond = F.lit(True)
        for col, (lo, hi) in ranges.items():
            if lo is not None:
                cond = cond & (F.col(col) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(col) <= F.lit(hi))
        if not files:
            return df.where(cond).limit(0)
        return df.where(cond)

    def history(self) -> list[dict]:
        return [
            {
                **{k: s[k] for k in ("id", "operation", "ts")},
                **(
                    {"summary": s["summary"]}
                    if "summary" in s
                    else {}
                ),
            }
            for s in self.snapshots
        ]

    # ---- metadata inspection tables (Iceberg metadata tables) ----
    # Iceberg exposes table internals as queryable relations
    # (`db.tbl.files`, `.snapshots`, `.partitions`, `.refs`); BigQuery
    # has INFORMATION_SCHEMA equivalents. At 100 TB these are how an
    # operator answers "how big is each partition", "what did that
    # load add", "which files carry deletes" — from METADATA, never a
    # data scan. Everything below is built from the driver-resident
    # manifest (O(files) dicts) plus os.stat for byte sizes; no data
    # page is ever opened, pinned by test against removed data files.

    INSPECT_KINDS = (
        "files", "delete_files", "snapshots", "partitions", "refs",
        "manifest", "schema",
    )

    def _size_of(self, path: str, manifest: dict | None = None) -> int | None:
        """Byte size from the manifest's recorded file_sizes when
        present (keeps inspection manifest-only — no filesystem
        round-trip per file), falling back to a stat for files that
        predate size tracking."""
        if manifest is not None:
            n = manifest.get("file_sizes", {}).get(path)
            if n is not None:
                return n
        try:
            return os.path.getsize(path)
        except OSError:
            return None

    def inspect(
        self,
        spark: SparkSession,
        kind: str,
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """A table-internals relation as a DataFrame (Iceberg metadata
        tables). ``kind``:

        - ``files``: one row per data file in the (time-traveled)
          snapshot — size, footer row count, add-order watermark,
          recorded partition values, per-column min/max bounds
          (stringified, the manifest's pruning stats), and whether the
          table OWNS the file (False for add_files registrations).
        - ``delete_files``: the snapshot's merge-on-read delete tail —
          kind (position/equality), equality keys, applies_to
          watermark, footer row count.
        - ``snapshots``: the full commit log with Iceberg-style
          summaries (added_/written_ files+rows, delete tail length).
          ``snapshot_id`` is rejected here — the log is one relation.
        - ``partitions``: per-partition rollup of ``files`` — file
          count, metadata row count (NULL if any member file predates
          row tracking), total bytes. Unpartitioned files group under
          the empty map.
        - ``refs``: named references — tags (type='tag', pinned
          snapshot) and open branches (type='branch', base snapshot,
          staged commit count).
        - ``schema``: the committed schema PLUS its evolution
          metadata — one row per current column (name, type,
          nullability, the prior names a rename journal maps to it)
          and one row per RETIRED name (renamed-away sources and
          dropped columns, with why) — the observability face of the
          metadata-only DDL (rename/drop/widen). ``snapshot_id``
          time-travels via the schema log: columns and rename
          vintages AS OF that snapshot (retired rows reflect only
          evolution up to it).
        - ``manifest``: the F40 segmented manifest layout itself —
          a core row (on-disk bytes + commit generation) plus one row
          per segment (snapshot span, reset flag, bytes, per-file map
          entry count); ``snapshot_id`` is rejected (physical layout,
          not time-travelable). Empty until the first commit.
        """
        from pyspark.sql import types as T

        if kind not in self.INSPECT_KINDS:
            raise ValueError(
                f"unknown metadata table {kind!r}; one of "
                f"{self.INSPECT_KINDS}"
            )
        manifest = self._read_manifest()
        if kind == "snapshots":
            if snapshot_id is not None:
                raise ValueError(
                    "snapshots is the full log; snapshot_id applies to "
                    "files/delete_files/partitions"
                )
            schema = T.StructType([
                T.StructField("snapshot_id", T.LongType(), False),
                T.StructField("operation", T.StringType(), False),
                T.StructField("committed_at", T.TimestampType(), True),
                T.StructField("total_files", T.LongType(), True),
                T.StructField("added_files", T.LongType(), True),
                T.StructField("added_rows", T.LongType(), True),
                T.StructField("written_files", T.LongType(), True),
                T.StructField("written_rows", T.LongType(), True),
                T.StructField("delete_file_count", T.LongType(), True),
            ])
            rows = []
            for s in manifest["snapshots"]:
                summ = s.get("summary", {})
                rows.append((
                    s["id"],
                    s["operation"],
                    datetime.fromtimestamp(s["ts"], tz=timezone.utc)
                    .replace(tzinfo=None),
                    summ.get("total_files", len(s["files"])),
                    summ.get("added_files"),
                    summ.get("added_rows"),
                    summ.get("written_files"),
                    summ.get("written_rows"),
                    len(s.get("deletes", [])),
                ))
            return spark.createDataFrame(rows, schema)

        if kind == "refs":
            schema = T.StructType([
                T.StructField("name", T.StringType(), False),
                T.StructField("type", T.StringType(), False),
                T.StructField("snapshot_id", T.LongType(), True),
                T.StructField("staged_commits", T.LongType(), True),
            ])
            rows = [
                (n, "tag", sid, None)
                for n, sid in manifest.get("tags", {}).items()
            ] + [
                (n, "branch", b["base"], len(b["snapshots"]))
                for n, b in manifest.get("branches", {}).items()
            ]
            return spark.createDataFrame(rows, schema)

        if kind == "schema":
            schema = T.StructType([
                T.StructField("column", T.StringType(), False),
                T.StructField("type", T.StringType(), True),
                T.StructField("nullable", T.BooleanType(), True),
                T.StructField("status", T.StringType(), False),
                T.StructField(
                    "prior_names", T.ArrayType(T.StringType()), True
                ),
            ])
            if snapshot_id is None:
                sj = manifest.get("schema")
                ren = column_rename_map(manifest) or {}
                dropped = manifest.get("dropped_columns", [])
            else:
                _snapshot(manifest, snapshot_id)  # raises if absent
                sj = self._schema_as_of(manifest, snapshot_id)
                ren = self._renames_as_of(manifest, snapshot_id) or {}
                # a name is retired:dropped AS OF the snapshot iff it
                # is absent from the as-of schema but present in some
                # schema at or before it (drops commit evolve-schema
                # snapshots, so the as-of schema already excludes them)
                cur_names = (
                    {f["name"] for f in json.loads(sj)["fields"]}
                    if sj
                    else set()
                )
                seen_before = set()
                for e in manifest.get("schema_log", ()):
                    if e["at"] <= snapshot_id:
                        seen_before.update(
                            f["name"]
                            for f in json.loads(e["schema"])["fields"]
                        )
                dropped = [
                    n
                    for n in manifest.get("dropped_columns", [])
                    if n in seen_before and n not in cur_names
                ]
            if not sj:
                return spark.createDataFrame([], schema)
            from pyspark.sql.types import StructType as _ST

            committed = _ST.fromJson(json.loads(sj))
            rows = [
                (
                    f.name,
                    f.dataType.simpleString(),
                    f.nullable,
                    "current",
                    list(ren.get(f.name, [])) or None,
                )
                for f in committed.fields
            ]
            renamed_away = {
                p for priors in ren.values() for p in priors
            }
            rows += [
                (n, None, None, "retired:renamed", None)
                for n in sorted(renamed_away)
            ]
            rows += [
                (n, None, None, "retired:dropped", None)
                for n in dropped
                if n not in renamed_away
            ]
            return spark.createDataFrame(rows, schema)

        if kind == "manifest":
            # the F40 segmented-manifest layout itself: one row per
            # segment (name, snapshot span, reset flag, on-disk
            # bytes, per-file map entry count) plus a 'core' row —
            # "how big is my metadata and where" without parsing JSON
            # by hand; the ops view for segment-compaction decisions
            if snapshot_id is not None:
                raise ValueError(
                    "manifest is the physical layout; snapshot_id "
                    "applies to files/delete_files/partitions"
                )
            schema = T.StructType([
                T.StructField("segment", T.StringType(), False),
                T.StructField("n_snapshots", T.LongType(), False),
                T.StructField("reset", T.BooleanType(), True),
                T.StructField("size_bytes", T.LongType(), True),
                T.StructField("map_entries", T.LongType(), False),
                T.StructField("generation", T.LongType(), True),
            ])
            rows = []
            io = fileio_for(self.path)
            try:
                core_bytes = io.size(self.manifest_path)
            except OSError:
                core_bytes = None  # never committed: empty relation
            if core_bytes is not None:
                rows.append((
                    "_manifest.json",
                    0,
                    None,
                    core_bytes,
                    0,
                    int(manifest.get("generation") or 0),
                ))
            plan = manifest.get(_SEG_PLAN_KEY)
            for p in (plan or {}).get("segments", []):
                seg_path = os.path.join(
                    self.path, "_segments", p["name"]
                )
                try:
                    size = io.size(seg_path)
                except OSError:
                    size = None
                rows.append((
                    p["name"],
                    p["n"],
                    p["reset"],
                    size,
                    sum(len(m) for m in p["maps"].values()),
                    None,
                ))
            return spark.createDataFrame(rows, schema)

        snap = _snapshot(manifest, snapshot_id)
        file_rows = manifest.get("file_rows", {})

        if kind == "delete_files":
            dmeta = manifest.get("delete_meta", {})
            schema = T.StructType([
                T.StructField("file_path", T.StringType(), False),
                T.StructField("kind", T.StringType(), False),
                T.StructField(
                    "equality_keys",
                    T.ArrayType(T.StringType(), False),
                    True,
                ),
                T.StructField("applies_to", T.LongType(), True),
                T.StructField("row_count", T.LongType(), True),
                T.StructField("size_bytes", T.LongType(), True),
            ])
            rows = []
            for d in (snap or {}).get("deletes", []):
                m = dmeta.get(d, {})
                kind = delete_kind(manifest, d)
                rows.append((
                    d,
                    kind,
                    m.get("keys"),
                    m.get("applies_to"),
                    # a deletion vector's parquet row count is
                    # #affected files; surface the voided-position
                    # total recorded at rewrite time instead
                    m.get("rows") if kind == "dv" else file_rows.get(d),
                    self._size_of(d, manifest),
                ))
            return spark.createDataFrame(rows, schema)

        # files / partitions share the per-file metadata rows
        fparts = manifest.get("file_partitions", {})
        fstats = manifest.get("file_stats", {})
        fadded = manifest.get("file_added_at", {})
        per_file = []
        for f in (snap or {}).get("files", []):
            per_file.append({
                "file_path": f,
                "size_bytes": self._size_of(f, manifest),
                "row_count": file_rows.get(f),
                "added_at_snapshot": fadded.get(f),
                "partition": dict(fparts.get(f, {})),
                "owned": self._owns(f),
                "lower_bounds": {
                    c: str(b[0]) for c, b in fstats.get(f, {}).items()
                },
                "upper_bounds": {
                    c: str(b[1]) for c, b in fstats.get(f, {}).items()
                },
            })

        if kind == "files":
            schema = T.StructType([
                T.StructField("file_path", T.StringType(), False),
                T.StructField("size_bytes", T.LongType(), True),
                T.StructField("row_count", T.LongType(), True),
                T.StructField("added_at_snapshot", T.LongType(), True),
                T.StructField(
                    "partition",
                    T.MapType(T.StringType(), T.StringType(), True),
                    False,
                ),
                T.StructField("owned", T.BooleanType(), False),
                T.StructField(
                    "lower_bounds",
                    T.MapType(T.StringType(), T.StringType(), False),
                    False,
                ),
                T.StructField(
                    "upper_bounds",
                    T.MapType(T.StringType(), T.StringType(), False),
                    False,
                ),
            ])
            rows = [
                (
                    r["file_path"], r["size_bytes"], r["row_count"],
                    r["added_at_snapshot"], r["partition"], r["owned"],
                    r["lower_bounds"], r["upper_bounds"],
                )
                for r in per_file
            ]
            return spark.createDataFrame(rows, schema)

        # partitions: metadata rollup; rows NULL-poisoned if any
        # member file predates row tracking (mirrors row_count())
        groups: dict[tuple, dict] = {}
        for r in per_file:
            key = tuple(sorted(r["partition"].items()))
            g = groups.setdefault(
                key,
                {"partition": r["partition"], "file_count": 0,
                 "row_count": 0, "size_bytes": 0},
            )
            g["file_count"] += 1
            if g["row_count"] is not None and r["row_count"] is not None:
                g["row_count"] += r["row_count"]
            else:
                g["row_count"] = None
            if g["size_bytes"] is not None and r["size_bytes"] is not None:
                g["size_bytes"] += r["size_bytes"]
            else:
                g["size_bytes"] = None
        schema = T.StructType([
            T.StructField(
                "partition",
                T.MapType(T.StringType(), T.StringType(), True),
                False,
            ),
            T.StructField("file_count", T.LongType(), False),
            T.StructField("row_count", T.LongType(), True),
            T.StructField("size_bytes", T.LongType(), True),
        ])
        rows = [
            (g["partition"], g["file_count"], g["row_count"],
             g["size_bytes"])
            for g in groups.values()
        ]
        return spark.createDataFrame(rows, schema)
