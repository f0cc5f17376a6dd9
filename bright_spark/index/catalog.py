"""On-disk index catalog — the Spark-native analog of a Bleve index dir.

The reference persists one Bleve scorch directory per index under
``<dataDir>/<indexID>`` plus a ``configs.json`` (store/store.go:91,
226-282). Our index is a directory of columnar tables under an
Iceberg-style snapshot protocol (layout v4):

    <index_dir>/
      config.json        index + build configuration (configs.json analog)
      CURRENT            id of the live snapshot ("s00000007"), replaced
                         atomically via os.replace — THE commit point
      snapshots/
        s00000007.json   manifest: table-name -> version-dir pointers +
                         corpus stats (n_docs, avgdl, field_stats, ...)
      data/
        docs/g00000012/v00000007/  per-DOC-RANGE versioned doc dirs;
                                   group = doc_id >> docs_range_bits
                                   (doc_id, attrs, content, sha256,
                                   doc_len — doc_id-sorted files)
        postings/b00003/v00000004/ per-BUCKET versioned posting dirs;
                                   bucket = crc32(term) % B is a data
                                   column (term-sorted files)
        term_stats/b00003/v00000005/ per-BUCKET versioned stats dirs:
                                   term -> global df, cf
        index_meta/v00000007/      single-row parquet mirror of stats
      checkpoints/       per-shard build lineage rows (resumability)
      segments/          resumable-build staging (not snapshot-tracked)

(Layout v3 — a single version dir for docs and term_stats — is still
READABLE: a manifest entry that is a plain string resolves as one dir.
The first mutation on a v3 index migrates those tables to the
per-group/per-bucket form.)

Write protocol (single writer, any number of readers):
  1. ``begin()`` a :class:`PendingSnapshot` — writers put every table
     they produce into NEW immutable version dirs; tables they do not
     touch keep the parent manifest's pointers (a mutation that
     rewrites 3 of 64 posting buckets shares the other 61 dirs with
     its parent — pointer copy, zero data copy). In v4 EVERY big table
     is partitioned this way — postings by term bucket, docs by
     doc-range group, term_stats by term bucket — so a mutation commit
     is O(changed partitions), never O(corpus): a 50-doc upsert
     re-versions the handful of doc groups and term buckets its ids
     and terms land in, and nothing else is read, written, or listed.
  2. ``commit()`` writes the manifest JSON, then atomically replaces
     ``CURRENT``. A crash anywhere before that leaves the previous
     snapshot fully intact (orphan version dirs are ignored and later
     reclaimed by :meth:`IndexCatalog.vacuum`).

Readers resolve paths through a manifest. :meth:`pin` freezes a reader
on the snapshot that was current at pin time, so long-running queries
are immune to concurrent mutations (the streaming poll loop commits
while searches run); old snapshots stay readable until ``vacuum``
expires them — exactly Iceberg's snapshot-expiry contract.

Bucket pruning: the query side computes the term's bucket on the
driver (crc32 — same polynomial as Spark's ``F.crc32``) and reads ONLY
those buckets' live version dirs — directory-level pruning that never
even lists the other buckets; parquet row-group min/max on ``term``
prunes within a bucket (rows are written term-sorted).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import zlib
from dataclasses import asdict
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bright_spark.models import IndexConfig

# kernel-output posting row (what the merge kernels emit)
POSTINGS_KERNEL_SCHEMA = (
    "bucket INT, field STRING, term STRING, range_id BIGINT, "
    "df_chunk INT, cf_chunk BIGINT, "
    "first_doc ARRAY<BIGINT>, max_doc ARRAY<BIGINT>, n ARRAY<INT>, "
    "max_tf ARRAY<INT>, min_dl ARRAY<INT>, "
    "docs ARRAY<BINARY>, tfs ARRAY<BINARY>, dls ARRAY<BINARY>, "
    # per-block absolute-varint positions (empty when the index was
    # built with store_positions=False)
    "pos ARRAY<BINARY>"
)

# on-disk posting row: adds the writing snapshot's id (`ver`) — the
# generation stamp append-mode tombstones compare against (an entry is
# dead iff its doc_id is tombstoned at a LATER version). Files from
# older layouts lack the column; Spark fills null, which readers treat
# as version 0 (the oldest).
POSTINGS_SCHEMA = POSTINGS_KERNEL_SCHEMA + ", ver BIGINT"

TERM_STATS_SCHEMA = ("field STRING, term STRING, df BIGINT, cf BIGINT, "
                     "bucket INT")

# build-time docs columns that reads never return
DOCS_BUILD_COLS = ("_term_arr", "_tf_arr", "_pid")

LAYOUT_VERSION = 4

# partitioned snapshot tables: manifest entry {part_key: version_dir};
# prefix/width name the partition dirs (data/<table>/<prefix><key>/v<N>)
PART_TABLES = {"postings": ("b", 5), "docs": ("g", 8), "term_stats": ("b", 5)}


def term_bucket(term: str, n_buckets: int) -> int:
    """crc32(term) % B — matches Spark's ``F.crc32`` (same polynomial),
    so the driver can compute the partition of a query term without a
    scan, and the build can compute it JVM-side."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def term_bucket_col(term_col, n_buckets: int):
    return (F.crc32(F.encode(term_col, "UTF-8")) % n_buckets).cast("int")


def _snap_name(snapshot_id: int) -> str:
    return f"s{snapshot_id:08d}"


def _entry_dirs(v) -> list[str]:
    """A partition pointer is one dir (str) or a delta chain (list)."""
    return [v] if isinstance(v, str) else list(v)


class CommitConflictError(RuntimeError):
    """Another writer committed since this pending snapshot began —
    the optimistic-concurrency check Iceberg performs on its metadata
    pointer. The loser re-begins from the new snapshot and replays."""


class SnapshotExpiredError(FileNotFoundError):
    """The snapshot this reader is pinned to (or was asked to pin) has
    been expired by :meth:`IndexCatalog.vacuum` — the Iceberg
    ``expire_snapshots`` contract: old snapshots stay readable only
    within the vacuum retention window (``keep_last``); a reader that
    outlives it must re-pin on a retained snapshot. Subclasses
    FileNotFoundError so existing missing-index handling still
    catches it."""


class PendingSnapshot:
    """An uncommitted snapshot: new version dirs + inherited pointers.

    ``adopt_part(table, key)`` hands out the version dir a writer
    should produce for one partition of a partitioned table (postings
    bucket / docs group / term_stats bucket), recording the pointer;
    ``drop_part`` removes a partition a mutation emptied;
    ``table_path("index_meta")`` covers the one whole-table write.
    Nothing is visible to readers until :meth:`commit`.
    """

    def __init__(self, catalog: IndexCatalog, parent: dict | None):
        self.catalog = catalog
        self.parent = parent
        self.snapshot_id = (parent["snapshot_id"] + 1) if parent else 1
        ptabs = (parent or {}).get("tables", {})
        self.tables: dict[str, Any] = {}
        for t in PART_TABLES:
            v = ptabs.get(t, {})
            # a legacy (v3) string entry is inherited as-is; the writer
            # that touches the table migrates it to the dict form
            self.tables[t] = dict(v) if isinstance(v, dict) else v
        for t in ("index_meta", "tombstones"):
            if parent and t in ptabs:
                self.tables[t] = ptabs[t]

    # ---------------------------------------------------- write targets

    def table_path(self, table: str) -> str:
        """Absolute path of this snapshot's NEW version dir for a
        whole-table rewrite (index_meta — the partitioned tables go
        through :meth:`adopt_part`)."""
        rel = os.path.join("data", table, f"v{self.snapshot_id:08d}")
        self.tables[table] = rel
        return os.path.join(self.catalog.index_dir, rel)

    def part_rel(self, table: str, key: int) -> str:
        prefix, width = PART_TABLES[table]
        return os.path.join("data", table, f"{prefix}{key:0{width}d}",
                            f"v{self.snapshot_id:08d}")

    def adopt_part(self, table: str, key: int) -> str:
        """Record this snapshot's new version dir for one partition of
        a partitioned table and return its absolute path (the caller
        moves/writes data there). REPLACES the partition's pointer —
        any delta chain collapses to the one new dir (the consolidation
        form; :meth:`adopt_part_delta` is the append form)."""
        if not isinstance(self.tables.get(table), dict):
            self.tables[table] = {}  # legacy str entry: migrated now
        rel = self.part_rel(table, key)
        self.tables[table][str(key)] = rel
        return os.path.join(self.catalog.index_dir, rel)

    def adopt_part_delta(self, table: str, key: int) -> str:
        """APPEND this snapshot's version dir to the partition's
        pointer chain instead of replacing it — the O(batch) mutation
        form (scorch's segment append): readers union the chain's
        dirs; a later consolidation (adopt_part) collapses it."""
        if not isinstance(self.tables.get(table), dict):
            self.tables[table] = {}
        cur = self.tables[table].get(str(key))
        chain = ([] if cur is None
                 else [cur] if isinstance(cur, str) else list(cur))
        rel = self.part_rel(table, key)
        if rel not in chain:
            chain.append(rel)
        self.tables[table][str(key)] = chain if len(chain) > 1 else rel
        return os.path.join(self.catalog.index_dir, rel)

    def drop_part(self, table: str, key: int) -> None:
        if isinstance(self.tables.get(table), dict):
            self.tables[table].pop(str(key), None)

    def reset_parts(self, table: str) -> None:
        """Forget inherited pointers — a full rewrite of the table."""
        self.tables[table] = {}

    def adopt_parts_from_disk(self, table: str) -> set[int]:
        """Re-adopt THIS snapshot's partition dirs already on disk —
        the resumable build's recovery path: an interrupted run's
        version dirs (written, never committed) are found by scanning
        ``data/<table>/<prefix>*/v<this snapshot id>``."""
        prefix, _ = PART_TABLES[table]
        root = os.path.join(self.catalog.index_dir, "data", table)
        self.tables[table] = {}
        found: set[int] = set()
        if not os.path.isdir(root):
            return found
        vname = f"v{self.snapshot_id:08d}"
        for name in os.listdir(root):
            if not name.startswith(prefix):
                continue
            try:
                key = int(name[len(prefix):])
            except ValueError:
                continue
            if os.path.isdir(os.path.join(root, name, vname)):
                self.adopt_part(table, key)
                found.add(key)
        return found

    def drop_table(self, table: str) -> None:
        self.tables.pop(table, None)

    def write_tombstones(self, ids, vers) -> None:
        """Write this snapshot's tombstone table — (doc_id, ver) pairs
        meaning: posting entries for doc_id written BEFORE ver are
        dead. The whole table is rewritten per commit (driver-side
        pyarrow, no Spark job): it only ever holds the ids changed
        since the last compaction, so it stays tiny."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq
        path = self.table_path("tombstones")
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)
        order = np.argsort(np.asarray(ids, dtype=np.int64))
        pq.write_table(pa.table({
            "doc_id": np.asarray(ids, dtype=np.int64)[order],
            "ver": np.asarray(vers, dtype=np.int64)[order]}),
            os.path.join(path, "part-0.parquet"))

    # ------------------------------------------------------------ reads

    def part_dirs(self, table: str, keys=None) -> list[str]:
        """Resolve (possibly not-yet-committed) partition dirs — stats
        passes inside a build/mutation read through the pending state.
        A legacy string entry resolves as one dir (keys ignored); a
        delta chain resolves to all its dirs in append order."""
        pmap = self.tables[table]
        if isinstance(pmap, str):
            return [os.path.join(self.catalog.index_dir, pmap)]
        ks = (sorted(pmap, key=int) if keys is None
              else [str(k) for k in sorted({int(k) for k in keys})
                    if str(k) in pmap])
        return [os.path.join(self.catalog.index_dir, d)
                for k in ks for d in _entry_dirs(pmap[k])]

    def postings_dirs(self, buckets=None) -> list[str]:
        return self.part_dirs("postings", buckets)

    def docs_dirs(self, groups=None) -> list[str]:
        return self.part_dirs("docs", groups)

    # ----------------------------------------------------------- commit

    def commit(self, meta: dict[str, Any], operation: str,
               metrics: dict[str, Any] | None = None) -> int:
        """Write the manifest, then atomically flip CURRENT. Everything
        before the final ``os.replace`` is invisible to readers.

        Concurrency: the manifest file is CLAIMED atomically (hard link
        of a complete temp file — O_EXCL semantics), so of two writers
        racing from the same parent, exactly one owns the snapshot id;
        the loser gets :class:`CommitConflictError` whichever side of
        the winner's CURRENT flip it lands on, and replays. The check-
        then-act window of a bare current_snapshot_id() compare cannot
        silently clobber. A writer that crashed between claim and flip
        leaves an orphan manifest that blocks its snapshot id;
        ``vacuum()`` removes above-live orphans (operator-run, safe
        under the single-writer contract). (Pre-commit DATA writes
        still assume that contract too: two same-parent writers share
        staging v{N} dirs — the loser must treat its version dirs as
        orphaned and replay; vacuum reclaims them.)"""
        cat = self.catalog
        live = cat.current_snapshot_id()
        expected = self.parent["snapshot_id"] if self.parent else None
        if live != expected:
            raise CommitConflictError(
                f"snapshot {live} was committed after this write began "
                f"(expected parent {expected}); re-begin and replay")
        os.makedirs(cat.snapshots_dir, exist_ok=True)
        manifest = {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent["snapshot_id"] if self.parent else None,
            "layout_version": LAYOUT_VERSION,
            "operation": operation,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "metrics": metrics or {},
            "tables": self.tables,
            "meta": meta,
        }
        name = _snap_name(self.snapshot_id)
        mf = os.path.join(cat.snapshots_dir, name + ".json")
        # temp name unique per WRITER, not just per process: two threads
        # of one process racing commit must not share (and truncate)
        # each other's temp file between json.dump and os.link
        tmp_mf = mf + f".tmp-{os.getpid()}-{threading.get_ident()}"
        with open(tmp_mf, "w") as f:
            json.dump(manifest, f, indent=2)
        try:
            # atomic claim: link fails iff another writer already
            # claimed this snapshot id (readers never see partial
            # JSON — the linked file is complete). NO takeover here:
            # a claim whose CURRENT flip has not landed yet is
            # indistinguishable from a crashed writer's orphan, and
            # guessing wrong silently clobbers the winner — the
            # crashed-orphan case is resolved by vacuum() (an operator
            # action, safe under the single-writer contract), which
            # removes above-live orphan manifests
            os.link(tmp_mf, mf)
        except FileExistsError:
            raise CommitConflictError(
                f"snapshot {self.snapshot_id} is already claimed "
                f"(a concurrent writer, or a crashed writer's orphan "
                f"manifest — run vacuum() to reclaim); re-begin and "
                f"replay") from None
        finally:
            try:
                os.unlink(tmp_mf)
            except FileNotFoundError:
                pass  # never mask the real outcome
        tmp = cat.current_file + ".tmp"
        with open(tmp, "w") as f:
            f.write(name)
        os.replace(tmp, cat.current_file)  # THE commit point
        cat._invalidate_cache()
        return self.snapshot_id


class IndexCatalog:
    """Paths + config/manifest persistence for one index.

    ``snapshot_id`` pins every read to that snapshot; otherwise reads
    resolve the live snapshot per call (:meth:`pin` freezes it at the
    current one — what :class:`SearchEngine` does at construction)."""

    def __init__(self, index_dir: str, snapshot_id: int | None = None):
        self.index_dir = index_dir
        self.snapshots_dir = os.path.join(index_dir, "snapshots")
        self.current_file = os.path.join(index_dir, "CURRENT")
        self.checkpoints_path = os.path.join(index_dir, "checkpoints")
        self.config_file = os.path.join(index_dir, "config.json")
        self._pinned = snapshot_id
        self._cache: tuple[int, dict] | None = None
        # (spark id, snapshot id, include_build_cols) -> docs DataFrame;
        # plans are immutable and dirs are fixed per snapshot, so
        # reusing the frame is sound — it saves the per-query reader
        # setup + manifest/schema file reads (~0.2 s of driver time per
        # search on this host)
        self._docs_frames: dict[tuple, "DataFrame"] = {}

    # ------------------------------------------------------- snapshots

    def _invalidate_cache(self) -> None:
        self._cache = None
        self._docs_frames = {}

    def current_snapshot_id(self) -> int | None:
        try:
            with open(self.current_file) as f:
                return int(f.read().strip().lstrip("s"))
        except FileNotFoundError:
            return None

    def read_manifest(self, snapshot_id: int) -> dict:
        with open(os.path.join(self.snapshots_dir,
                               _snap_name(snapshot_id) + ".json")) as f:
            return json.load(f)

    def _manifest_file(self, snapshot_id: int) -> str:
        return os.path.join(self.snapshots_dir,
                            _snap_name(snapshot_id) + ".json")

    def manifest(self) -> dict:
        """The pinned manifest, or the live one (re-resolved per call
        unless cached at the same snapshot id — manifests are
        immutable, so caching by id is always sound). A pinned reader
        whose snapshot was vacuumed away raises
        :class:`SnapshotExpiredError` instead of failing later with a
        missing-file read."""
        sid = self._pinned if self._pinned is not None \
            else self.current_snapshot_id()
        if sid is None:
            raise FileNotFoundError(
                f"index at {self.index_dir} has no committed snapshot")
        if not os.path.exists(self._manifest_file(sid)):
            self._cache = None
            raise SnapshotExpiredError(
                f"snapshot {sid} of {self.index_dir} is not retained "
                f"(expired by vacuum, or never committed); re-pin on a "
                f"live snapshot")
        if self._cache and self._cache[0] == sid:
            return self._cache[1]
        m = self.read_manifest(sid)
        self._cache = (sid, m)
        return m

    def pin(self, snapshot_id: int | None = None) -> int:
        """Freeze reads on a snapshot (default: the already-pinned one
        if any, else the live one). Pinning an expired/unknown id
        raises :class:`SnapshotExpiredError` up front."""
        if snapshot_id is None:
            snapshot_id = (self._pinned if self._pinned is not None
                           else self.current_snapshot_id())
        if snapshot_id is None:
            raise FileNotFoundError(
                f"index at {self.index_dir} has no committed snapshot")
        if not os.path.exists(self._manifest_file(snapshot_id)):
            raise SnapshotExpiredError(
                f"cannot pin snapshot {snapshot_id} of {self.index_dir}: "
                f"not retained (expired by vacuum, or never committed)")
        self._pinned = snapshot_id
        return self._pinned

    def snapshots(self) -> list[dict]:
        """All retained manifests, oldest first (the time-travel list)."""
        if not os.path.isdir(self.snapshots_dir):
            return []
        out = []
        for name in sorted(os.listdir(self.snapshots_dir)):
            if name.startswith("s") and name.endswith(".json"):
                with open(os.path.join(self.snapshots_dir, name)) as f:
                    out.append(json.load(f))
        return out

    def snapshot_diff(self, from_id: int, to_id: int) -> dict:
        """Version dirs that changed between two retained snapshots —
        the unit of incremental replication: a follower holding
        ``from_id`` fetches exactly ``changed`` + ``added`` dirs (plus
        the manifest) to reach ``to_id``; at 10^12 docs a sync batch
        diff is a handful of bucket dirs, not the index."""
        a, b = self.read_manifest(from_id), self.read_manifest(to_id)

        def flat(m):
            out: dict[str, set[str]] = {}
            for k, v in m["tables"].items():
                if isinstance(v, dict):
                    for kk, vv in v.items():
                        out[f"{k}/{kk}"] = set(_entry_dirs(vv))
                else:
                    out[k] = {v}
            return out

        fa, fb = flat(a), flat(b)
        out = {"added": [], "removed": [], "changed": [], "unchanged": []}
        for k in sorted(fa.keys() | fb.keys()):
            va, vb = fa.get(k, set()), fb.get(k, set())
            if not va:
                out["added"] += sorted(vb)      # entry born in `to`
            elif not vb:
                out["removed"] += sorted(va)    # entry dropped
            elif va == vb:
                out["unchanged"] += sorted(vb)
            else:
                # pointer moved or chain grew: the follower fetches the
                # new dirs; dirs `to` no longer references are its GC set
                out["changed"] += sorted(vb - va)
                out["unchanged"] += sorted(vb & va)
                out["removed"] += sorted(va - vb)
        return out

    def begin(self) -> PendingSnapshot:
        sid = self.current_snapshot_id()
        return PendingSnapshot(self, self.read_manifest(sid)
                               if sid is not None else None)

    def vacuum(self, keep_last: int = 2) -> list[str]:
        """Expire old snapshots: keep the live manifest plus the most
        recent ``keep_last - 1`` others, delete older manifests, then
        reclaim every version dir no retained manifest references.
        Version dirs NEWER than the live snapshot (a writer's pending
        output) are never touched. Returns the deleted dir paths.

        Retention contract (Iceberg ``expire_snapshots`` semantics):
        readers pinned to a snapshot inside the retention window keep
        working; a reader pinned to an EXPIRED snapshot gets
        :class:`SnapshotExpiredError` on its next catalog access, and
        ``pin()`` refuses expired ids up front — size ``keep_last`` to
        the longest-lived reader you allow."""
        live = self.current_snapshot_id()
        if live is None:
            return []
        # above-live manifests are crashed writers' orphan claims
        # (claimed, never flipped CURRENT) — remove them so their
        # snapshot ids become claimable again; vacuum is operator-run
        # with no writer active (single-writer contract), so a live
        # in-flight claim cannot be here
        for m in self.snapshots():
            if m["snapshot_id"] > live:
                os.remove(os.path.join(
                    self.snapshots_dir,
                    _snap_name(m["snapshot_id"]) + ".json"))
        manifests = self.snapshots()
        keep = {m["snapshot_id"] for m in manifests[-keep_last:]} | {live}
        referenced: set[str] = set()
        for m in manifests:
            if m["snapshot_id"] in keep:
                for v in m["tables"].values():
                    if isinstance(v, dict):
                        for vv in v.values():
                            referenced.update(_entry_dirs(vv))
                    else:
                        referenced.add(v)
            else:
                os.remove(os.path.join(
                    self.snapshots_dir, _snap_name(m["snapshot_id"]) + ".json"))
        deleted = []
        data = os.path.join(self.index_dir, "data")

        def reclaim(table_dir: str, rel_prefix: str) -> None:
            if not os.path.isdir(table_dir):
                return
            for v in os.listdir(table_dir):
                if not v.startswith("v"):
                    continue
                rel = os.path.join(rel_prefix, v)
                try:
                    vid = int(v.lstrip("v"))
                except ValueError:
                    continue
                if rel not in referenced and vid <= live:
                    full = os.path.join(table_dir, v)
                    shutil.rmtree(full, ignore_errors=True)
                    deleted.append(full)

        def reclaim_partitioned(table: str) -> None:
            """data/<table>/: partition subdirs holding v* dirs, plus
            legacy flat v* dirs and crashed writers' .staging-v* dirs."""
            tdir = os.path.join(data, table)
            if not os.path.isdir(tdir):
                return
            reclaim(tdir, os.path.join("data", table))  # legacy flat v*
            for name in os.listdir(tdir):
                if name.startswith(".staging-v"):
                    # a crashed writer's staging dir: stale once a
                    # commit at or past its version exists
                    try:
                        vid = int(name.split("-v")[1])
                    except ValueError:
                        continue
                    if vid <= live:
                        full = os.path.join(tdir, name)
                        shutil.rmtree(full, ignore_errors=True)
                        deleted.append(full)
                    continue
                if name.startswith("v"):
                    continue  # legacy flat, handled above
                sub = os.path.join(tdir, name)
                if os.path.isdir(sub):
                    reclaim(sub, os.path.join("data", table, name))
                    if not os.listdir(sub):  # partition fully reclaimed
                        os.rmdir(sub)

        for t in ("index_meta", "tombstones"):
            reclaim(os.path.join(data, t), os.path.join("data", t))
        for t in PART_TABLES:
            reclaim_partitioned(t)
        return deleted

    # ---------------------------------------------------------- config

    def exists(self) -> bool:
        return os.path.exists(self.config_file)

    def save_config(self, config: IndexConfig, extra: dict[str, Any] | None = None) -> None:
        os.makedirs(self.index_dir, exist_ok=True)
        payload = {"config": asdict(config), "extra": extra or {}}
        with open(self.config_file, "w") as f:
            json.dump(payload, f, indent=2, default=list)

    def load_config(self) -> IndexConfig:
        with open(self.config_file) as f:
            payload = json.load(f)
        c = payload["config"]
        c["exclude_attributes"] = tuple(c.get("exclude_attributes") or ())
        return IndexConfig(**c)

    def load_extra(self) -> dict[str, Any]:
        with open(self.config_file) as f:
            return json.load(f).get("extra", {})

    # ------------------------------------------------------------ meta

    def load_meta(self) -> dict[str, Any]:
        """Corpus stats of the (pinned or live) snapshot."""
        return self.manifest()["meta"]

    # ----------------------------------------------------- table paths

    @property
    def index_meta_path(self) -> str:
        return os.path.join(self.index_dir,
                            self.manifest()["tables"]["index_meta"])

    def part_dirs(self, table: str, keys=None) -> list[str]:
        """Live version dir per partition (optionally restricted) — the
        unit of directory pruning AND of mutation copy-on-write. A
        legacy (v3) string entry resolves as one dir (keys ignored —
        callers fall back to column filters)."""
        pmap = self.manifest()["tables"][table]
        if isinstance(pmap, str):
            return [os.path.join(self.index_dir, pmap)]
        ks = (sorted(pmap, key=int) if keys is None
              else [str(k) for k in sorted({int(k) for k in keys})
                    if str(k) in pmap])
        return [os.path.join(self.index_dir, d)
                for k in ks for d in _entry_dirs(pmap[k])]

    def postings_dirs(self, buckets=None) -> list[str]:
        return self.part_dirs("postings", buckets)

    def docs_dirs(self, groups=None) -> list[str]:
        return self.part_dirs("docs", groups)

    def term_stats_dirs(self, buckets=None) -> list[str]:
        return self.part_dirs("term_stats", buckets)

    # ----------------------------------------------------------- reads

    def docs_schema(self) -> str | None:
        """DDL of the docs table, recorded in the manifest at build
        time — lets reads survive empty dirs (zero part files defeat
        inference) and empty corpora."""
        return self.load_meta().get("docs_schema")

    def docs(self, spark: SparkSession, include_build_cols: bool = False,
             groups=None) -> DataFrame:
        key = None
        if groups is None:
            sid = self._pinned if self._pinned is not None \
                else self.current_snapshot_id()
            key = (id(spark), sid, include_build_cols)
            cached = self._docs_frames.get(key)
            if cached is not None:
                return cached
        dirs = self.docs_dirs(groups)
        ddl = self.docs_schema()
        if not dirs:
            if ddl is None:
                raise FileNotFoundError(
                    f"index at {self.index_dir} has no docs dirs and no "
                    f"recorded docs schema")
            return spark.createDataFrame([], ddl)
        reader = spark.read.schema(ddl) if ddl else spark.read
        df = reader.parquet(*dirs)
        if not include_build_cols:
            df = df.drop(*DOCS_BUILD_COLS)
        if key is not None:
            self._docs_frames[key] = df
        return df

    def docs_for_ids(self, spark: SparkSession, ids: list[int]) -> DataFrame:
        """Doc fetch with directory pruning: only the groups containing
        the requested ids are listed/read (the hit-assembly path of
        every search — at 10^12 docs a top-10 fetch reads ≤10 group
        dirs, with doc_id row-group min/max pruning inside each)."""
        bits = self.load_meta().get("docs_range_bits")
        ids = [int(i) for i in ids]
        if bits is None:  # legacy layout: single dir, predicate only
            return self.docs(spark).filter(F.col("doc_id").isin(ids))
        groups = {i >> int(bits) for i in ids}
        return (self.docs(spark, groups=groups)
                .filter(F.col("doc_id").isin(ids)))

    def max_doc_id(self, spark: SparkSession) -> int | None:
        """Max assigned doc_id, reading ONLY the top doc-range group
        (groups are doc_id ranges, so the max lives in the max group) —
        the O(1-group) input to mutation id assignment."""
        pmap = self.manifest()["tables"]["docs"]
        if isinstance(pmap, dict):
            if not pmap:
                return None
            top = max(int(k) for k in pmap)
            df = self.docs(spark, groups=[top])
        else:
            df = self.docs(spark)
        row = df.agg(F.max("doc_id")).collect()[0][0]
        return None if row is None else int(row)

    def postings(self, spark: SparkSession, buckets=None) -> DataFrame:
        """Postings scan over the live (or pinned) version dirs of the
        requested buckets — unrequested buckets are never even listed."""
        dirs = self.postings_dirs(buckets)
        if not dirs:
            return spark.createDataFrame([], POSTINGS_SCHEMA)
        return spark.read.schema(POSTINGS_SCHEMA).parquet(*dirs)

    def term_buckets(self, pairs) -> set[int]:
        """Term buckets of (field, term) pairs."""
        n = self.load_config().n_term_buckets
        return {term_bucket(t, n) for _, t in pairs}

    @staticmethod
    def _pair_filter(pairs: list[tuple[str, str]]):
        """(field, term) pairs -> a pushable predicate: one term
        IN-list per field (field count is tiny), OR-ed together."""
        by_field: dict[str, list[str]] = {}
        for f, t in pairs:
            by_field.setdefault(f, []).append(t)
        cond = None
        for f in sorted(by_field):
            c = (F.col("field") == f) & F.col("term").isin(sorted(set(by_field[f])))
            cond = c if cond is None else (cond | c)
        return cond

    def postings_for_terms(self, spark: SparkSession,
                           pairs: list[tuple[str, str]]) -> DataFrame:
        """Partition-pruned posting lookup for (field, term) pairs: the
        driver computes each term's bucket and reads ONLY those
        buckets' live dirs (directory pruning without listing anything
        else); the term IN-list prunes row groups via parquet min/max
        (rows are term-sorted within files; field is a secondary sort
        key). This is the FST term-dictionary-seek analog (SURVEY §4)."""
        df = self.postings(spark, buckets=self.term_buckets(pairs))
        return df.filter(self._pair_filter(pairs))

    def tombstones(self):
        """(sorted doc_ids, aligned versions) of the live tombstone
        table, or None. An entry (d, v) kills posting entries for d
        written before snapshot v (append-mode deletes/replacements);
        compaction clears the table. Driver-side pyarrow read, cached
        per pointer — the table is bounded by ids changed since the
        last compaction."""
        rel = self.manifest()["tables"].get("tombstones")
        if not rel:
            return None
        if getattr(self, "_tomb_cache", None) and self._tomb_cache[0] == rel:
            return self._tomb_cache[1]
        import glob as _glob

        import numpy as np
        import pyarrow.parquet as pq
        files = sorted(_glob.glob(os.path.join(self.index_dir, rel,
                                               "*.parquet")))
        if not files:
            return None
        tab = pq.read_table(files[0]) if len(files) == 1 else None
        if tab is None:
            import pyarrow as pa
            tab = pa.concat_tables([pq.read_table(f) for f in files])
        ids = tab["doc_id"].to_numpy().astype(np.int64)
        vers = tab["ver"].to_numpy().astype(np.int64)
        order = np.argsort(ids)
        out = (ids[order], vers[order])
        self._tomb_cache = (rel, out)
        return out

    def delta_depth(self, table: str = "postings") -> int:
        """Longest partition pointer chain — the compaction trigger."""
        pmap = self.manifest()["tables"].get(table)
        if not pmap:
            return 0
        if isinstance(pmap, str):
            return 1
        return max((len(_entry_dirs(v)) for v in pmap.values()), default=0)

    def _stats_dirty(self, buckets=None) -> bool:
        pmap = self.manifest()["tables"].get("term_stats")
        if not isinstance(pmap, dict):
            return False
        items = (pmap.values() if buckets is None else
                 [pmap[str(b)] for b in buckets if str(b) in pmap])
        return any(isinstance(v, list) for v in items)

    def term_stats(self, spark: SparkSession, buckets=None) -> DataFrame:
        # explicit schema: an empty index (or an emptied bucket) has
        # zero part files and inference would fail on bare _SUCCESS
        dirs = self.term_stats_dirs(buckets)
        if not dirs:
            return spark.createDataFrame([], TERM_STATS_SCHEMA)
        raw = spark.read.schema(TERM_STATS_SCHEMA).parquet(*dirs)
        if not self._stats_dirty(buckets):
            return raw
        # append-mode delta chains: a term's stats are the SUM of its
        # base row and signed delta rows; net-zero terms (fully
        # deleted) vanish. Buckets without deltas skip this agg.
        return (raw.groupBy("bucket", "field", "term")
                .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
                .filter(F.col("df") > 0)
                .select("field", "term", "df", "cf", "bucket"))

    def term_stats_for_terms(self, spark: SparkSession,
                             pairs: list[tuple[str, str]]) -> DataFrame:
        """Bucket-pruned stats lookup: v4 prunes at the DIRECTORY level
        (non-matching buckets are never listed); the bucket predicate
        stays for legacy single-dir layouts."""
        buckets = sorted(self.term_buckets(pairs))
        df = self.term_stats(spark, buckets=buckets)
        return df.filter(F.col("bucket").isin(buckets) & self._pair_filter(pairs))

    # ------------------------------------- driver-side (pyarrow) reads
    #
    # The same lookups as postings_for_terms / term_stats_for_terms /
    # docs_for_ids, read in-process with pyarrow. The engine reads
    # term dfs this way on every path and layout (a legacy string entry
    # is one dir); postings and docs only on its driver executor, whose
    # caller checks the layout first.

    def part_files(self, table: str, keys) -> list[str]:
        """Parquet files of the live dirs of the given partitions."""
        import glob as _glob
        return [f for d in self.part_dirs(table, keys)
                for f in sorted(_glob.glob(os.path.join(d, "*.parquet")))]

    def read_pairs_local(self, table: str, pairs, columns: list[str]):
        """Rows of ``pairs`` from the term buckets of ``table``
        (postings or term_stats) as one pandas frame of ``columns``.
        Row groups are pruned on ``term`` min/max; a column a file
        lacks (older layouts) reads as null, as Spark's explicit-schema
        scan does."""
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        keys = pa.array(sorted(f"{f}\x1f{t}" for f, t in set(pairs)))
        terms = sorted({t for _, t in pairs})
        parts = []
        for path in self.part_files(table, self.term_buckets(pairs)):
            names = pq.read_schema(path).names
            tab = pq.read_table(path, filters=[("term", "in", terms)],
                                columns=[c for c in columns if c in names],
                                partitioning=None)
            key = pc.binary_join_element_wise(tab["field"], tab["term"],
                                              "\x1f")
            pdf = tab.filter(pc.is_in(key, value_set=keys)).to_pandas()
            for c in columns:
                if c not in names:
                    pdf[c] = float("nan")  # a null int64, as to_pandas gives
            parts.append(pdf[columns])
        if not parts:
            return pd.DataFrame(columns=columns)
        return pd.concat(parts, ignore_index=True)

    def term_dfs_local(self, pairs) -> dict[tuple[str, str], int]:
        """df per present (field, term): a delta chain's signed rows
        summed, net-zero terms dropped — :meth:`term_stats` exactly."""
        pdf = self.read_pairs_local("term_stats", pairs,
                                    ["field", "term", "df"])
        summed = pdf.groupby(["field", "term"])["df"].sum()
        return {k: int(df) for k, df in summed.items() if df > 0}

    def docs_for_ids_local(self, ids: list[int],
                           columns: list[str]) -> list[dict]:
        """``columns`` of the docs with these ids, as plain dicts: only
        the groups holding the ids are read, row groups pruned on
        ``doc_id``. A column a file lacks reads as None."""
        import pyarrow.parquet as pq
        bits = int(self.load_meta()["docs_range_bits"])
        ids = sorted({int(i) for i in ids})
        out: list[dict] = []
        for path in self.part_files("docs", {i >> bits for i in ids}):
            names = set(pq.read_schema(path).names)
            tab = pq.read_table(path, filters=[("doc_id", "in", ids)],
                                columns=[c for c in columns if c in names],
                                partitioning=None)
            out.extend({c: r.get(c) for c in columns}
                       for r in tab.to_pylist())
        return out
