"""Database + collection catalog with copy-on-write versioning on plain
Parquet.

Maps the reference's data model (SURVEY.md §1) onto a Spark-native layout:

- **Database** = a directory (reference: `Database { path }`,
  src/database/mod.rs:6-10) containing `vr_config` (JSON metadata,
  setup.rs:19-20) and `vr_wal` (the database-level write-ahead/ingest log,
  setup.rs:22-23). Creation fails if the directory exists (setup.rs:6-15).
- **Collection** = a subdirectory holding versioned Parquet snapshots:

      <db>/<name>/
        meta.json       # schema, vector dim, metric, index state
        _CURRENT        # the committed version number (atomic pointer)
        wal.jsonl       # per-collection commit log (TRUNCATEWAL target)
        v<N>/           # immutable Parquet snapshot directories

  Every mutation writes a NEW version directory and then atomically swaps
  `_CURRENT` (os.replace of a temp file — atomic on POSIX). Readers
  resolve `_CURRENT` once and only ever see a fully-committed snapshot:
  old-or-new, never partial. Unreferenced versions are garbage: reclaimed
  by `truncate_wal` (the reference's TRUNCATEWAL, builder.rs:39-42).

  **Scale note:** INSERT-type mutations do NOT rewrite existing data —
  prior snapshot files are hard-linked into the new version and only the
  delta is written (O(delta) commit, like an Iceberg snapshot reusing
  data files). UPDATE/DELETE rewrite only because plain Parquet has no
  row-level deletes; on a cluster the rewrite is a distributed job and
  the swap is still a single pointer write.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from vrod_spark.errors import (
    CollectionExistsError,
    CollectionNotFoundError,
    DatabaseExistsError,
    DatabaseNotFoundError,
)

VR_CONFIG = "vr_config"
VR_WAL = "vr_wal"
CURRENT = "_CURRENT"
META = "meta.json"
WAL = "wal.jsonl"

#: Default record schema for a vRod-style collection (SURVEY.md §1.3):
#: explicit id (replaces the reference's ordinal identity), dense float
#: vector, text payload, string metadata map.
RECORD_SCHEMA = "id bigint, embedding array<float>, payload string, meta map<string,string>"


def _index_identity(idx: dict | None):
    """The part of an index that decides bucket assignment — kind plus
    hyperplanes/centroids, NOT the histogram (which concurrent appends grow
    commutatively). Two metas with equal identity bucket a delta the same
    way; unequal identity means staged ``bucket=`` dirs hash wrong."""
    if not idx:
        return None
    return (
        idx.get("kind", "lsh"),
        json.dumps(idx.get("planes") if "planes" in idx else idx.get("centroids")),
        # PQ kinds: the codebooks (and OPQ rotation, when present) decide
        # the delta's pq_code encoding the same way planes/centroids
        # decide its bucket — a concurrent re-train means staged codes
        # decode wrong.
        json.dumps(idx["codebooks"]) if "codebooks" in idx else None,
        json.dumps(idx["rotation"]) if "rotation" in idx else None,
    )


def _atomic_write(path: str, content: str) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(content)
    os.replace(tmp, path)


class Database:
    """A named directory of collections (reference: database/mod.rs:13-17)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # -- lifecycle ---------------------------------------------------------
    @classmethod
    def create(cls, spark: SparkSession, parent: str, name: str) -> "Database":
        """init-database: mkdir + vr_config + vr_wal; fails if the directory
        already exists (setup.rs:6-15)."""
        path = os.path.join(parent, name)
        if os.path.exists(path):
            raise DatabaseExistsError(f"database directory already exists: {path}")
        os.makedirs(path)
        _atomic_write(
            os.path.join(path, VR_CONFIG),
            json.dumps({"name": name, "created_at": time.time(), "format": "parquet"}),
        )
        _atomic_write(os.path.join(path, VR_WAL), "")
        return cls(spark, path)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "Database":
        """load-database (the reference's todo!() at database/mod.rs:19-21,
        made real): validate the directory by its vr_config."""
        if not os.path.isfile(os.path.join(path, VR_CONFIG)):
            raise DatabaseNotFoundError(f"not a vrod database (no {VR_CONFIG}): {path}")
        return cls(spark, path)

    @property
    def config(self) -> dict:
        with open(os.path.join(self.path, VR_CONFIG)) as f:
            return json.loads(f.read() or "{}")

    def _wal_append(self, entry: dict) -> None:
        with open(os.path.join(self.path, VR_WAL), "a") as f:
            f.write(json.dumps(entry) + "\n")

    # -- collections -------------------------------------------------------
    def collection_path(self, name: str) -> str:
        # Shared chokepoint for EVERY verb that maps a user-supplied
        # collection name to a directory (r11 review: DROP ".." would
        # rmtree the database's PARENT). Path separators and the two
        # dot dirs can never be collection names; CREATE additionally
        # enforces its SQL-identifier charset.
        if (
            not name
            or name in (".", "..")
            or "/" in name
            or "\\" in name
            or "\x00" in name
        ):
            from vrod_spark.errors import CommandArgError

            raise CommandArgError(f"invalid collection name: {name!r}")
        return os.path.join(self.path, name)

    def _write_empty_snapshot(self, v0_path: str, schema: str) -> None:
        """Write the committed empty v0 parquet WITHOUT a Spark job.

        ``spark.createDataFrame([], ddl).write.parquet(...)`` costs a
        full write job (~0.5 s warmed, ~2 s on the session's first
        write) to materialize zero rows; a CREATE-heavy path (the q39
        gate builds five collections) pays it per collection. PyArrow
        writes the identical empty file in ~10 ms, using Spark's OWN
        DDL→Arrow schema mapping so the on-disk schema is exactly what
        the Spark writer would produce (asserted equal in
        test_engine_create_pyarrow_v0_schema). Falls back to the Spark
        writer if the Arrow conversion rejects an exotic type."""
        try:
            import pyarrow.parquet as pq
            from pyspark.sql.pandas.types import to_arrow_schema
            from pyspark.sql.types import StructType

            arrow_schema = to_arrow_schema(StructType.fromDDL(schema))
            os.makedirs(v0_path, exist_ok=True)
            pq.write_table(
                arrow_schema.empty_table(),
                os.path.join(v0_path, "part-00000.parquet"),
            )
            with open(os.path.join(v0_path, "_SUCCESS"), "w"):
                pass
        except Exception:
            self.spark.createDataFrame([], schema).write.mode(
                "overwrite"
            ).parquet(v0_path)

    def create_collection(
        self,
        name: str,
        *,
        dimension: int | None = None,
        metric: str = "l2",
        schema: str = RECORD_SCHEMA,
        partition_by: str | None = None,
    ) -> "Collection":
        """``partition_by`` names a META MAP KEY (e.g. "region"): every
        snapshot is then laid out as ``pk=<meta[key]>/`` Hive partitions,
        and SEARCH predicates equating that key to a literal are served
        with partition pruning — at 100 TB a per-tenant/per-region query
        reads only its directory, not the table."""
        path = self.collection_path(name)
        if os.path.exists(path):
            raise CollectionExistsError(f"collection already exists: {name}")
        os.makedirs(path)
        meta = {
            "name": name,
            "schema": schema,
            "dimension": dimension,
            "metric": metric,
            "index": None,
            "partition_by": partition_by,
            "created_at": time.time(),
        }
        _atomic_write(os.path.join(path, META), json.dumps(meta))
        # v0 = committed empty snapshot so readers always resolve. For
        # partitioned collections v0 is written partitioned (only _SUCCESS
        # materializes) so the layout never mixes root data files with
        # pk= partition directories — Spark rejects such mixed trees.
        # The _CURRENT pointer is written LAST (r11 review): pointer-first
        # left a window — and, after a failed v0 write, a permanent state —
        # where CURRENT resolved to a missing dir while re-creation raised
        # CollectionExistsError. A crash mid-create now leaves a dir with
        # no _CURRENT, which reads as not-yet-committed and can be DROPped.
        if partition_by:
            from pyspark.sql import functions as F

            (
                self.spark.createDataFrame([], schema)
                .withColumn("pk", F.lit(None).cast("string"))
                .write.partitionBy("pk")
                .mode("overwrite")
                .parquet(os.path.join(path, "v0"))
            )
        else:
            self._write_empty_snapshot(os.path.join(path, "v0"), schema)
        _atomic_write(os.path.join(path, CURRENT), "0")
        self._wal_append({"op": "CREATE", "collection": name, "ts": time.time()})
        return Collection(self, name)

    def drop_collection(self, name: str) -> None:
        path = self.collection_path(name)
        if not os.path.isdir(path):
            raise CollectionNotFoundError(f"no such collection: {name}")
        # Unregister any ANALYZE catalog tables first — a registration
        # pointing at deleted files would linger (harmless to queries, the
        # freshness check rejects it, but DESCRIBE/list surfaces would
        # still show a corpse) until the name were re-analyzed.
        col = Collection(self, name)
        tbl = col.sql_table()
        for stmt in (
            f"DROP VIEW IF EXISTS {tbl}",
            f"DROP TABLE IF EXISTS {tbl}",
            f"DROP TABLE IF EXISTS {tbl}__data",
        ):
            try:
                self.spark.sql(stmt)
            except Exception:
                pass  # DROP VIEW on a table object; nothing registered; etc.
        shutil.rmtree(path)
        self._wal_append({"op": "DROP", "collection": name, "ts": time.time()})

    def list_collections(self) -> list[str]:
        out = []
        for entry in sorted(os.listdir(self.path)):
            if os.path.isfile(os.path.join(self.path, entry, META)):
                out.append(entry)
        return out

    def collection(self, name: str) -> "Collection":
        if not os.path.isfile(os.path.join(self.collection_path(name), META)):
            raise CollectionNotFoundError(f"no such collection: {name}")
        return Collection(self, name)

    def truncate_wal(self, collection: str | None = None) -> dict:
        """TRUNCATEWAL: collection WAL if given, else the database WAL
        (builder.rs:39-42, comment at :41). Truncating a collection's WAL
        also garbage-collects its superseded snapshot directories — the
        'compaction after checkpoint' maintenance the reference implies."""
        if collection is not None:
            return self.collection(collection).truncate_wal()
        _atomic_write(os.path.join(self.path, VR_WAL), "")
        return {"truncated": "database", "path": os.path.join(self.path, VR_WAL)}


class Collection:
    """A versioned Parquet-backed table of (id, embedding, payload, meta)."""

    def __init__(self, db: Database, name: str):
        self.db = db
        self.name = name
        self.path = db.collection_path(name)

    # -- metadata ----------------------------------------------------------
    @property
    def meta(self) -> dict:
        with open(os.path.join(self.path, META)) as f:
            return json.loads(f.read())

    def _write_meta(self, meta: dict) -> None:
        _atomic_write(os.path.join(self.path, META), json.dumps(meta))

    def update_meta(self, **fields) -> dict:
        meta = self.meta
        meta.update(fields)
        self._write_meta(meta)
        return meta

    # -- versioning --------------------------------------------------------
    @property
    def version(self) -> int:
        with open(os.path.join(self.path, CURRENT)) as f:
            return int(f.read().strip())

    def version_dir(self, version: int | None = None) -> str:
        v = self.version if version is None else version
        return os.path.join(self.path, f"v{v}")

    def _require_version_dir(self, version: int) -> str:
        """The on-disk dir of a historical version, or the shared
        CollectionNotFoundError when it was never committed or was
        reclaimed — the one error contract read/read_delta/restore use."""
        target = self.version_dir(version)
        if not os.path.isdir(target):
            raise CollectionNotFoundError(
                f"version {version} of {self.name} does not exist "
                "(never committed, or reclaimed by TRUNCATEWAL)"
            )
        return target

    def committed_versions(self) -> set[int]:
        """Versions PROVABLY committed: the current one plus every WAL
        entry's (v0 — CREATE's empty snapshot — commits outside the
        collection WAL). A crashed writer can leave an orphaned v{N}
        directory that was never pointed to by _CURRENT; its content may
        be partial, so anything consuming a historical version as DATA
        (RESTORE) must check membership here, not just isdir. Excluding
        a commit whose WAL line was lost to a crash between pointer swap
        and log append is the conservative side of that coin."""
        out = {0, self.version}
        for e in self.wal_entries():
            v = e.get("version")
            if isinstance(v, int):
                out.add(v)
        return out

    def live_index(
        self, meta: dict | None = None, version: int | None = None
    ) -> dict | None:
        """The index dict consumers may TRUST for snapshot ``version`` (the
        CURRENT one by default), or None.

        ``meta['index']`` alone is not proof the index is live: REINDEX's
        commit tail writes the index meta BEFORE the _CURRENT pointer
        swap (commit_staged_index), so a writer killed between the two
        leaves index meta pointing at an orphaned (never-committed,
        possibly-partial) bucketed snapshot while the live snapshot is
        still the previous flat layout. Trusting it then wedges searches
        (no ``bucket`` column) and — worse — lets INSERT bucket-assign a
        delta and merge it into a flat snapshot (silent mixed-layout
        corruption; r14 kill-test). commit_staged_index therefore stamps
        the index with the version it committed as, and an index is LIVE
        only when that stamp is a PROVABLY-committed version. An orphan's
        number is never committed (later writers skip over its dir), so
        stale index meta is permanently inert — readers fall back to the
        exact paths until a REINDEX re-runs or TRUNCATEWAL clears it.
        Stamp-less index meta (pre-r14 collections) is trusted as live.
        A stamp newer than ``version`` indexes a later snapshot, never this
        one.
        """
        idx = (meta if meta is not None else self.meta).get("index")
        if not idx:
            return None
        v = idx.get("version")
        if v is None:
            return idx
        current = self.version if version is None else version
        # Fast path: a stamp equal to a pointer value is committed by
        # definition (the pointer only ever names committed snapshots) —
        # skips the O(commits) WAL parse for the common just-reindexed
        # state; older stamps (appends since) pay one wal.jsonl read,
        # bounded by TRUNCATEWAL compaction.
        if int(v) == current:
            return idx
        if int(v) > current:
            return None
        return idx if int(v) in self.committed_versions() else None

    def snapshot(self) -> tuple[int, dict, dict | None]:
        """``(version, meta, live index)`` of the CURRENT snapshot, resolved
        once for a reader that plans against it (SEARCHSIMILAR routes on
        it and its searchers scan that version). The pointer is read
        BEFORE the meta: every commit that changes the index meta does so
        before its pointer swap, so a rewrite's cleared index reads as
        none (the exact path over ``version`` is right for any layout) and
        a REINDEX stamped after ``version`` is not trusted for it. A
        commit landing while the reader plans cannot disturb it: COW
        versions stay immutable until TRUNCATEWAL."""
        version = self.version
        meta = self.meta
        return version, meta, self.live_index(meta, version)

    def read(self, version: int | None = None, *, spark: SparkSession | None = None) -> DataFrame:
        """Read a committed snapshot — the CURRENT one by default, or a
        historical one (time travel): COW versions are immutable until
        TRUNCATEWAL reclaims them, so any un-reclaimed version is
        readable forever at zero extra storage cost (appends hard-link).

        Indexed snapshots are bucket-partitioned on disk (operators.ann);
        the internal ``bucket`` partition column is projected away here so
        the logical schema is stable across REINDEX.

        The layout (flat, ``bucket=`` or ``pk=``) is sniffed from the
        version dir, never taken from meta: a historical snapshot may
        predate or postdate a REINDEX / repartition, and a killed REINDEX
        leaves index meta over a flat current snapshot. Every layout is
        read with an explicit schema, so no read runs a schema-inference
        job.

        ``spark`` overrides the session the plan is built on (Engine.sql
        uses a private child session so its temp views stay isolated)."""
        s = spark or self.db.spark
        meta = self.meta
        target = (
            self.version_dir() if version is None
            else self._require_version_dir(version)
        )
        entries = os.listdir(target)
        for part_col, part_type in (("bucket", "int"), ("pk", "string")):
            if any(e.startswith(part_col + "=") for e in entries):
                field_names = [
                    f.name for f in StructType.fromDDL(meta["schema"]).fields
                ]
                return (
                    s.read.schema(f"{meta['schema']}, {part_col} {part_type}")
                    .parquet(target)
                    .select(*field_names)
                )
        return s.read.schema(meta["schema"]).parquet(target)

    def read_buckets(
        self, version: int, buckets, *, columns: str | None = None
    ) -> DataFrame:
        """The rows of bucket-partitioned snapshot ``version`` that lie in
        ``buckets``, listing and scanning ONLY those ``bucket=<b>`` dirs:
        planning is O(probed buckets), not O(2^n_planes), and no job
        infers the schema (it is given: the record schema, the physical
        ``columns`` DDL a searcher needs, e.g. ivfpq's ``pq_code binary``,
        and ``bucket int``). The ``bucket IN (...)`` filter stays, so the
        plan still shows the PartitionFilters.

        A probed bucket with no directory (``candidate_buckets`` falls back
        to the query's own, possibly empty, bucket) is skipped; when none
        remain the result is an empty, correctly-typed DataFrame."""
        from pyspark.sql import functions as F

        s = self.db.spark
        root = self.version_dir(version)
        schema = ", ".join(
            p for p in (self.meta["schema"], columns, "bucket int") if p
        )
        buckets = sorted({int(b) for b in buckets})
        paths = [
            p for p in (os.path.join(root, f"bucket={b}") for b in buckets)
            if os.path.isdir(p)
        ]
        if not paths:
            return s.createDataFrame([], schema)
        return (
            s.read.schema(schema)
            .option("basePath", root)
            .parquet(*paths)
            .filter(F.col("bucket").isin(buckets))
        )

    def read_delta(self, since_version: int) -> DataFrame:
        """Rows added since ``since_version`` — the incremental-export
        primitive (ship only the NEW training shards, not the corpus).

        FAST PATH: COW appends hard-link the prior snapshot's files under
        their original names and only write delta files, so when every
        commit after ``since_version`` was an INSERT/BULKINSERT the delta
        is EXACTLY the files present in the current version dir but not
        in the old one — read just those, O(delta) with no scan of
        either snapshot. The per-collection ``wal.jsonl`` records each
        commit's verb, so append-only history is checkable without
        touching data.

        FALLBACK (any intervening rewrite — UPDATE/DELETE/DEDUP/REINDEX
        renames every file): semantic delta = current rows whose id was
        absent at ``since_version``, via LEFT ANTI join. At scale the old
        snapshot's id column is the join's build side; a production
        deployment that needs frequent incremental exports across
        rewrites would keep an append log table instead (the WAL already
        carries the commit sequence for it)."""
        cur = self.version
        old_dir = self._require_version_dir(since_version)
        if since_version >= cur:
            return self.read().limit(0)
        # Append-only iff EVERY committed version in (since, cur] has a
        # WAL entry and all of them are inserts. Coverage is checked
        # against the version DIRECTORIES (COW never deletes them outside
        # TRUNCATEWAL): a commit whose WAL line was lost to a crash
        # between the pointer swap and the log append must NOT silently
        # pass as an append — it might have been a rewrite.
        committed = {
            int(e[1:])
            for e in os.listdir(self.path)
            if e.startswith("v") and e[1:].isdigit()
            and since_version < int(e[1:]) <= cur
        }
        logged: dict[int, str] = {}
        for e in self.wal_entries():
            v = int(e.get("version", -1))
            if since_version < v <= cur:
                logged[v] = e.get("op", "")
        append_only = committed <= set(logged) and all(
            logged[v] in ("INSERT", "BULKINSERT") for v in committed
        )
        meta = self.meta
        s = self.db.spark
        field_names = [
            f.name for f in StructType.fromDDL(meta["schema"]).fields
        ]
        if append_only:
            def rel_files(root: str) -> set[str]:
                out = set()
                for dirpath, _dirs, files in os.walk(root):
                    for fn in files:
                        if not fn.startswith(("_", ".")):
                            out.add(
                                os.path.relpath(os.path.join(dirpath, fn), root)
                            )
                return out

            cur_dir = self.version_dir()
            new_files = sorted(rel_files(cur_dir) - rel_files(old_dir))
            if not new_files:
                return self.read().limit(0)
            return (
                s.read.schema(meta["schema"])
                .parquet(*[os.path.join(cur_dir, f) for f in new_files])
                .select(*field_names)
            )
        old_ids = self.read(version=since_version).select("id")
        return self.read().join(old_ids, "id", "left_anti").select(*field_names)

    def read_raw(self) -> DataFrame:
        """CURRENT snapshot INCLUDING the physical ``pk`` partition column
        (meta-key-partitioned collections) — the handle SEARCH uses to get
        partition pruning. Explicit schema so an empty partitioned snapshot
        (v0 is only a _SUCCESS marker) still reads cleanly.

        Gates on live_index(), not raw ``meta['index']`` (ADVICE r14):
        stale index debris from a killed REINDEX must not push a
        partition_by collection onto read()'s flat path — that projects
        ``pk`` away and SEARCH's pk-pruned scan then fails on the missing
        column instead of degrading to the exact partitioned read."""
        meta = self.meta
        if meta.get("partition_by") and not self.live_index(meta):
            return (
                self.db.spark.read.schema(meta["schema"] + ", pk string")
                .parquet(self.version_dir())
            )
        return self.read()

    def partition_literal(self, predicate: str) -> str | None:
        """If `predicate` pins the partition meta key to a string literal
        (``meta['<key>'] = '<val>'``) as a top-level AND conjunct, return
        the literal for partition-pruned scans; else None.

        Pruning is only sound when the equality is a plain conjunct: any
        OR (the equality may be one alternative), NOT / ``!`` (the match
        could sit under negation), or CASE/IF/WHEN (the match could be a
        conditional branch, not a filter) disqualifies the predicate —
        the scan then stays unpruned and the filter is evaluated as-is,
        which is always correct, just less fast (ADVICE r2)."""
        key = self.meta.get("partition_by")
        # `is false` / `is not true` / `= false` / boolean-equality forms
        # also put the match under (effective) negation (r11 review:
        # "meta['k'] = 'v' IS FALSE" must not prune to pk='v'); any
        # mention of a boolean literal disqualifies along with the
        # explicit negators.
        if not key or re.search(
            r"\bor\b|\bnot\b|!|\bcase\b|\bwhen\b|\bif\b|\bis\b|\bfalse\b|\btrue\b",
            predicate,
            re.IGNORECASE,
        ):
            return None
        m = re.search(
            rf"meta\s*\[\s*'{re.escape(key)}'\s*\]\s*==?\s*'([^']*)'", predicate
        )
        return m.group(1) if m else None

    @staticmethod
    def _data_files(root: str) -> list[str]:
        out = []
        for d, _dirs, files in os.walk(root):
            out.extend(os.path.join(d, f) for f in files if f.endswith(".parquet"))
        return out

    def compact(
        self,
        target_partitions: int | None = None,
        zorder: list[str] | None = None,
        zorder_bits: int = 6,
    ) -> dict:
        """Maintenance: rewrite the current snapshot with a right-sized
        file count. Hard-linked incremental appends accumulate one small
        delta file per INSERT — fine for a while, but small files erode
        scan throughput at scale (per-file open + footer cost). Compaction
        is a plain COW commit, so readers are never disturbed; old
        versions become reclaimable by TRUNCATEWAL.

        LAYOUT-PRESERVING: an indexed snapshot is compacted to one file
        per bucket REUSING the stored bucket assignments (no re-hash, the
        index and histogram stay valid — maintenance must never degrade
        the read path); a meta-key-partitioned snapshot keeps its pk=
        layout via the ``_rewrite`` partition re-derivation.

        ``zorder``: cluster the rewrite on the Morton interleave of
        these columns (``operators/zorder.py``) so parquet row-group
        min/max stats stay tight on EVERY listed column — multi-column
        scan pruning, the lakehouse ``OPTIMIZE ZORDER`` layout. One
        extra shuffle (``repartitionByRange`` on the z-value); rejected
        for vector-indexed snapshots, whose bucket layout IS the read
        path (z-order the collection before REINDEX instead)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        # Capture the base version FIRST and derive the source dir from
        # it: resolving the dir before the version (r11 review) let a
        # commit landing in between pass the conflict check while the
        # rewrite compacted the STALE snapshot — silently dropping the
        # intervening commit's rows.
        base_version = self.version
        cur = self.version_dir(base_version)
        files_before = self._data_files(cur)
        if target_partitions is None:
            # ~128 MB target files; cheap estimate from current dir size.
            size = sum(os.path.getsize(f) for f in files_before)
            target_partitions = max(1, size // (128 * 1024 * 1024))
        # live_index, not raw meta (r14): a killed REINDEX's stale index
        # meta over a FLAT snapshot would otherwise route compaction down
        # the bucket-repartition branch (AnalysisException: no `bucket`
        # column — maintenance wedged until manual repair). Live-filtered,
        # the debris takes the flat _rewrite branch below, which also
        # CLEARS the stale meta — compaction self-heals it.
        idx = self.live_index()
        if zorder:
            if idx:
                raise ValueError(
                    "compact(zorder=...) conflicts with a vector-index "
                    "bucket layout; z-order before REINDEX instead"
                )
            from vrod_spark.operators.zorder import zorder_value

            base = self.read(version=base_version)
            zv = zorder_value(base, list(zorder), bits=int(zorder_bits))
            ordered = (
                base.withColumn("__vr_z", zv)
                .repartitionByRange(int(target_partitions), F.col("__vr_z"))
                .sortWithinPartitions("__vr_z")
                .drop("__vr_z")
            )
            n = self._rewrite(
                ordered, "COMPACT", {"zorder": list(zorder)},
                base_version=base_version,
            )
            out = {
                "collection": self.name,
                "rows": n,
                "zorder": list(zorder),
                "files_before": len(files_before),
                "files_after": len(self._data_files(self.version_dir())),
            }
            per_part = self._files_per_partition(self.version_dir())
            if per_part is not None:
                out["files_per_partition"] = per_part
            return out
        if idx:
            from vrod_spark.errors import CommitConflictError

            obs = Observation()
            # The physical columns too: pq/ivfpq codes, the bucket dirs.
            physical = [self.meta["schema"]]
            if idx.get("kind") in ("pq", "ivfpq"):
                physical.append("pq_code binary")
            if idx.get("kind") != "pq":
                physical.append("bucket int")
            df = self.db.spark.read.schema(", ".join(physical)).parquet(cur)
            df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
            staging = os.path.join(self.path, f".staging-{uuid.uuid4().hex}")
            try:
                if idx.get("kind") == "pq":
                    # Flat PQ layout: compact file count, keep the stored
                    # pq_code column (no re-encode — maintenance must never
                    # degrade the read path).
                    (
                        df.coalesce(int(target_partitions))
                        .write.mode("overwrite")
                        .parquet(staging)
                    )
                else:
                    self.write_bucketed(
                        df, staging, len(idx.get("histogram") or {})
                    )
                n = int(obs.get["rows"])
                with self._commit_lock():
                    if self.version != base_version:
                        raise CommitConflictError(
                            f"COMPACT derived from v{base_version} but CURRENT "
                            f"is v{self.version}; re-run"
                        )
                    nxt, nxt_dir = self._next_version_dir()
                    os.rename(staging, nxt_dir)
                    self._commit(nxt, "COMPACT", {"rows": n, "index": "preserved"})
                    # Re-stamp AFTER the pointer swap (opposite order to
                    # commit_staged_index, deliberately): a crash before
                    # this line leaves the OLD stamp, which is still a
                    # committed version — index stays live, nothing
                    # degrades. The re-stamp only restores live_index's
                    # fast path (stamp == current) after compaction.
                    self.update_meta(index={**idx, "version": nxt})
            except Exception:
                shutil.rmtree(staging, ignore_errors=True)
                raise
        else:
            n = self._rewrite(
                self.read(version=base_version).coalesce(int(target_partitions)),
                "COMPACT",
                base_version=base_version,
            )
        out = {
            "collection": self.name,
            "rows": n,
            "files_before": len(files_before),
            "files_after": len(self._data_files(self.version_dir())),
        }
        per_part = self._files_per_partition(self.version_dir())
        if per_part is not None:
            out["files_per_partition"] = per_part
        return out

    @classmethod
    def _files_per_partition(cls, root: str) -> dict[str, int] | None:
        """Per-partition data-file counts for a partitioned snapshot
        (``bucket=``/``pk=`` Hive dirs); None for a flat layout. Lets a
        compaction report show exactly where small files accumulated."""
        counts: dict[str, int] = {}
        for entry in sorted(os.listdir(root)):
            if "=" in entry and os.path.isdir(os.path.join(root, entry)):
                counts[entry] = len(cls._data_files(os.path.join(root, entry)))
        return counts or None

    def _commit_lock(self, timeout: float = 30.0):
        """Exclusive commit critical-section: an O_CREAT|O_EXCL lock file.
        Held only for the cheap link/rename/pointer-swap tail of a commit
        (never during a Spark write job), it serializes concurrent writers
        to one collection the way a real table format's commit service
        does — appends re-resolve CURRENT under the lock so no concurrent
        delta is ever lost, and rewrites detect a conflicting commit and
        raise ``CommitConflictError`` instead of silently dropping it.
        Single-node scope is honest here: the catalog IS a local
        filesystem; a cluster deployment swaps this one method for a
        metastore/commit-service call."""
        from contextlib import contextmanager

        @contextmanager
        def lock():
            lock_path = os.path.join(self.path, ".commit-lock")
            deadline = time.time() + timeout
            while True:
                try:
                    fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    os.write(fd, f"{os.getpid()}\n".encode())
                    break
                except FileExistsError:
                    # Stale-lock recovery (r11 review): a writer SIGKILLed
                    # inside the critical section leaves the file forever,
                    # bricking all writes. Live holders of O(files)
                    # sections keep the mtime fresh via the yielded
                    # heartbeat, so mtime older than the acquire timeout
                    # is provably abandoned. The break is an ATOMIC
                    # rename — exactly one racer moves the stale lock
                    # aside (a bare unlink let two waiters both "break"
                    # it, the second unlinking the lock the first had
                    # just re-created).
                    try:
                        age = time.time() - os.path.getmtime(lock_path)
                    except FileNotFoundError:
                        continue
                    if age > timeout:
                        stale = lock_path + f".stale-{uuid.uuid4().hex}"
                        try:
                            os.rename(lock_path, stale)
                            os.unlink(stale)
                        except FileNotFoundError:
                            pass  # another breaker won the rename
                        continue
                    if time.time() > deadline:
                        raise TimeoutError(f"commit lock busy: {lock_path}")
                    time.sleep(0.02)

            def beat() -> None:
                # Heartbeat for legitimately long critical sections
                # (TRUNCATEWAL's rmtree loop, link loops over many
                # files): refreshes mtime so concurrent waiters never
                # misread a LIVE holder as abandoned.
                try:
                    os.utime(lock_path)
                except FileNotFoundError:
                    pass

            try:
                yield beat
            finally:
                # Only remove the lock if it is still OURS: if a breaker
                # (wrongly or rightly) stole it and another writer
                # re-created the file, its inode differs — unlinking it
                # would cascade mutual-exclusion loss to a third writer.
                try:
                    if os.fstat(fd).st_ino == os.stat(lock_path).st_ino:
                        os.unlink(lock_path)
                except FileNotFoundError:
                    pass  # a stale-break raced us; the commit already ran
                os.close(fd)

        return lock()

    def _next_version_dir(self) -> tuple[int, str]:
        nxt = self.version + 1
        # Skip any orphaned directories from crashed commits.
        while os.path.exists(os.path.join(self.path, f"v{nxt}")):
            nxt += 1
        return nxt, os.path.join(self.path, f"v{nxt}")

    def _commit(self, new_version: int, op: str, detail: dict | None = None) -> None:
        _atomic_write(os.path.join(self.path, CURRENT), str(new_version))
        entry = {"op": op, "version": new_version, "ts": time.time()}
        entry.update(detail or {})
        with open(os.path.join(self.path, WAL), "a") as f:
            f.write(json.dumps(entry) + "\n")

    def _link_existing(self, src_dir: str, dst_dir: str, heartbeat=None) -> int:
        """Hard-link the prior snapshot's data files into the new version —
        O(1) per file, no data copy. Recurses into ``bucket=`` partition
        subdirectories so indexed (bucket-partitioned) snapshots link the
        same way flat ones do. Returns number of linked files.
        ``heartbeat`` (the commit lock's refresher) is pulsed every 256
        links so a many-file snapshot never reads as an abandoned lock."""
        n = 0
        for fname in os.listdir(src_dir):
            if fname.startswith(("_", ".")):
                continue
            src = os.path.join(src_dir, fname)
            dst = os.path.join(dst_dir, fname)
            if os.path.isdir(src):
                os.makedirs(dst, exist_ok=True)
                n += self._link_existing(src, dst, heartbeat)
            else:
                os.link(src, dst)
                n += 1
                if heartbeat is not None and n % 256 == 0:
                    heartbeat()
        return n

    def _index_bucket_col(self, idx: dict):
        """Bucket-assignment column for the CURRENT index — the same
        function REINDEX used, applied to a delta only."""
        from pyspark.sql import functions as F

        if idx.get("kind") in ("ivf", "ivfpq"):
            import numpy as np

            from vrod_spark.operators.ivf import ivf_assign_expr

            proj = None
            if idx.get("project_dim") is not None:
                from vrod_spark.functions.vector import random_projection_matrix

                proj = random_projection_matrix(
                    int(self.meta["dimension"]),
                    int(idx["project_dim"]),
                    int(idx.get("project_seed", 0)),
                )
            return ivf_assign_expr(
                self.db.spark,
                np.asarray(idx["centroids"], dtype=np.float64),
                proj=proj,
            )
        import numpy as np

        from vrod_spark.operators.ann import bucket_expr

        return bucket_expr("embedding", np.asarray(idx["planes"], dtype=np.float64))

    @staticmethod
    def _merge_partitioned_delta(
        staging: str, nxt_dir: str, nxt: int, prefix: str = "bucket="
    ) -> dict[str, int]:
        """Move staged ``<prefix>K/`` delta files into the new version's
        matching partition dirs (``d{nxt}-`` prefixed, collision-free) and
        return per-partition added-row counts — read driver-side from
        parquet footers (pyarrow), zero Spark jobs, O(delta files)."""
        import pyarrow.parquet as pq

        added: dict[str, int] = {}
        for entry in os.listdir(staging):
            if not entry.startswith(prefix):
                continue
            bucket = entry.split("=", 1)[1]
            dst = os.path.join(nxt_dir, entry)
            os.makedirs(dst, exist_ok=True)
            for fname in os.listdir(os.path.join(staging, entry)):
                if fname.startswith(("_", ".")):
                    continue
                src = os.path.join(staging, entry, fname)
                added[bucket] = added.get(bucket, 0) + pq.ParquetFile(src).metadata.num_rows
                os.rename(src, os.path.join(dst, f"d{nxt}-{fname}"))
        return added

    @staticmethod
    def _footer_rowcount(root: str) -> int:
        """Row count of a snapshot dir from parquet FOOTERS — driver-side
        O(files), zero Spark jobs; recurses through pk=/bucket= layouts."""
        import pyarrow.parquet as pq

        n = 0
        for r, _dirs, files in os.walk(root):
            for fname in files:
                if fname.startswith(("_", ".")):
                    continue
                n += pq.ParquetFile(os.path.join(r, fname)).metadata.num_rows
        return n

    @staticmethod
    def write_bucketed(df: DataFrame, path: str, n_buckets: int) -> None:
        """Write ``df`` ``partitionBy("bucket")`` to ``path``: one file per
        bucket dir, rows ordered by id — the layout every index rewrite
        (sign-LSH, IVF, IVF-PQ, COMPACT of an indexed snapshot) commits.

        Sizing rule: ``min(n_buckets, shuffle.partitions)`` hash-partitioned
        write tasks (``shuffle.partitions`` when ``n_buckets`` is unknown),
        so each bucket still lands whole in ONE task and the count is sized
        to the session, not to the key space. Every task pays a fixed cost
        whether or not it has rows — measured ~26 ms of CPU just to
        deserialize its task binary (20k×64 vectors, 256 buckets, 4 cores:
        256 write tasks spent 6.3-6.7 CPU-s deserializing against 2.7-4.7
        CPU-s of work, and about 1/e of them were empty; PERF.md). The count
        stays EXPLICIT: AQE does not coalesce a ``repartition(n, col)``,
        whereas a keyless ``repartition("bucket")`` was coalesced to 1-2
        tasks that wrote every bucket file serially."""
        n_tasks = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        (
            df.repartition(min(n_buckets, n_tasks) or n_tasks, "bucket")
            .sortWithinPartitions("bucket", "id")
            .write.partitionBy("bucket")
            .mode("overwrite")
            .parquet(path)
        )

    @staticmethod
    def bucket_histogram(root: str) -> dict[str, int]:
        """Per-bucket row counts of a ``bucket=``-partitioned snapshot,
        read from parquet FOOTERS — driver-side, O(files), zero Spark
        jobs (the `_merge_partitioned_delta` technique). Replaces the
        full second scan REINDEX used to pay just to build its
        histogram (r11 review)."""
        import pyarrow.parquet as pq

        hist: dict[str, int] = {}
        for entry in os.listdir(root):
            if not entry.startswith("bucket="):
                continue
            bucket = entry.split("=", 1)[1]
            n = 0
            for fname in os.listdir(os.path.join(root, entry)):
                if fname.startswith(("_", ".")):
                    continue
                n += pq.ParquetFile(
                    os.path.join(root, entry, fname)
                ).metadata.num_rows
            hist[bucket] = n
        return hist

    def commit_staged_index(
        self,
        staging: str,
        *,
        base_version: int,
        index: dict | None,
        op_detail: dict,
    ) -> int:
        """Locked commit tail for REINDEX-class rewrites (r11 review —
        the four index builders committed with neither the lock nor a
        conflict check, so a concurrent INSERT's rows could silently
        vanish under the re-pointed snapshot): verify no commit
        superseded ``base_version``, rename the STAGED snapshot into the
        next version dir, persist the index meta, and swap the pointer —
        the same read-modify-write contract as `_rewrite`. The heavy
        write job happens into ``staging`` before this call, outside the
        lock. On conflict the staging dir is reclaimed and
        CommitConflictError asks the caller to re-run against the new
        snapshot."""
        from vrod_spark.errors import CommitConflictError

        with self._commit_lock():
            if self.version != base_version:
                shutil.rmtree(staging, ignore_errors=True)
                raise CommitConflictError(
                    f"REINDEX derived from v{base_version} but CURRENT is "
                    f"v{self.version}; re-run against the new snapshot"
                )
            nxt, nxt_dir = self._next_version_dir()
            os.rename(staging, nxt_dir)
            # Stamp the index with ITS commit's version: the meta write
            # below lands before the pointer swap in _commit, so a crash
            # between the two leaves index meta without a committed
            # snapshot — live_index() treats a stamp that never became a
            # committed version as no-index (see its docstring).
            if index is not None:
                index = {**index, "version": nxt}
            self.update_meta(index=index)
            self._commit(nxt, "REINDEX", op_detail)
            return nxt

    # -- mutations (each: write new snapshot → atomic pointer swap) --------
    def insert(self, df: DataFrame, *, commit_detail: dict | None = None) -> int:
        """INSERT / BULKINSERT (builder.rs:43-52): append-only commit.
        Existing files are hard-linked; only the delta is written — for
        indexed collections too: the delta is bucket-assigned with the
        index's own hash function and appended into the existing
        ``bucket=`` partition dirs, keeping the index VALID (histogram
        updated from delta parquet footers). A 1 GB append to a 100 TB
        indexed collection touches 1 GB.

        Exactly ONE Spark job runs per insert: the staging write, which
        also carries the row count and vector-dimension min/max as
        ``observe`` metrics. Dimension enforcement happens after staging,
        before the pointer swap — a bad ingest aborts without committing.
        """
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from vrod_spark.engine import validate_records  # cycle-free at call time
        from vrod_spark.errors import DimensionMismatchError

        df = validate_records(self, df)
        has_vec = "embedding" in df.columns
        obs = Observation()
        metrics = [F.count(F.lit(1)).alias("n")]
        if has_vec:
            metrics += [
                F.min(F.size("embedding")).alias("dmin"),
                F.max(F.size("embedding")).alias("dmax"),
            ]
        df = df.observe(obs, *metrics)

        idx = self.live_index()
        part_key = self.meta.get("partition_by")
        # Plain "pq" is a FLAT layout (codes are a data column, no bucket
        # dirs) — its delta takes the unpartitioned append path. Bucket
        # assignment comes FIRST: residual ivfpq codes encode against the
        # delta row's own bucket centroid.
        bucketed = idx is not None and idx.get("kind") != "pq"
        if bucketed:
            df = df.withColumn("bucket", self._index_bucket_col(idx))
        elif part_key:
            df = df.withColumn("pk", F.col("meta").getItem(part_key))
        if idx and idx.get("kind") in ("pq", "ivfpq"):
            # PQ-indexed: encode the delta with the STORED codebooks so
            # appended rows are ADC-scannable — same O(delta) contract as
            # the bucket assignment above.
            import numpy as np

            rotation = (
                np.asarray(idx["rotation"], dtype=np.float64)
                if idx.get("rotation")
                else None
            )
            if idx.get("kind") == "ivfpq" and idx.get("residual"):
                from vrod_spark.operators.pq import pq_residual_code_expr

                df = df.withColumn(
                    "pq_code",
                    pq_residual_code_expr(
                        self.db.spark,
                        np.asarray(idx["codebooks"], dtype=np.float64),
                        np.asarray(idx["centroids"], dtype=np.float64),
                        rotation=rotation,
                    ),
                )
            else:
                from vrod_spark.operators.pq import pq_code_expr

                df = df.withColumn(
                    "pq_code",
                    pq_code_expr(
                        self.db.spark,
                        np.asarray(idx["codebooks"], dtype=np.float64),
                        rotation=rotation,
                    ),
                )

        staging = os.path.join(self.path, f".staging-{uuid.uuid4().hex}")
        writer = df.write.mode("overwrite")
        if bucketed:
            writer = writer.partitionBy("bucket")
        elif part_key:
            writer = writer.partitionBy("pk")
        try:
            writer.parquet(staging)  # the ONE job; metrics ride along
            vals = obs.get
            n_new = int(vals["n"])
            dmin = dmax = None
            if has_vec and n_new and vals.get("dmin") is not None:
                dmin, dmax = int(vals["dmin"]), int(vals["dmax"])
                if dmin != dmax:
                    raise DimensionMismatchError(
                        f"mixed vector dimensions in ingest: [{dmin}..{dmax}]"
                    )

            # Plain appends commute, so concurrent INSERTs need no conflict
            # check — but everything staged against a SNAPSHOT OF META must
            # be re-validated INSIDE the commit lock (ADVICE r2):
            # - CURRENT re-resolves (else two racing inserts link the same
            #   base and the later swap silently drops the earlier delta);
            # - the index identity must still be the one the delta was
            #   bucket-assigned with (a concurrent REINDEX means our bucket=
            #   dirs hash wrong; a concurrent UPDATE/DELETE/DEDUP cleared
            #   the index and flattened the layout — merging would resurrect
            #   it / produce a mixed flat+partitioned tree);
            # - the declared-dimension check-and-pin is serialized here so
            #   two racing first-inserts can't both pin different dims.
            with self._commit_lock() as beat:
                fresh_meta = self.meta
                if fresh_meta.get("partition_by") != part_key or _index_identity(
                    self.live_index(fresh_meta)
                ) != _index_identity(idx):
                    from vrod_spark.errors import CommitConflictError

                    raise CommitConflictError(
                        "collection layout changed during insert (concurrent "
                        "REINDEX/UPDATE/DELETE); retry the insert against the "
                        "new snapshot"
                    )
                if dmin is not None:
                    declared = fresh_meta.get("dimension")
                    if declared is None:
                        self.update_meta(dimension=dmin)
                    elif dmin != declared:
                        raise DimensionMismatchError(
                            f"vector dimension {dmin} != collection dimension {declared}"
                        )
                cur_dir = self.version_dir()
                nxt, nxt_dir = self._next_version_dir()
                os.makedirs(nxt_dir)
                self._link_existing(cur_dir, nxt_dir, heartbeat=beat)
                if bucketed:
                    added = self._merge_partitioned_delta(staging, nxt_dir, nxt)
                    # Identity matched above, so only the histogram can have
                    # moved (concurrent inserts grow it commutatively).
                    fresh_idx = fresh_meta.get("index")
                    hist = {
                        str(k): int(v)
                        for k, v in (fresh_idx.get("histogram") or {}).items()
                    }
                    for b, cnt in added.items():
                        hist[b] = hist.get(b, 0) + cnt
                    self.update_meta(index={**fresh_idx, "histogram": hist})
                    detail = {
                        "rows": n_new,
                        "index": "maintained",
                        "delta_buckets": len(added),
                    }
                elif part_key:
                    added = self._merge_partitioned_delta(
                        staging, nxt_dir, nxt, prefix="pk="
                    )
                    detail = {"rows": n_new, "delta_partitions": len(added)}
                else:
                    for fname in os.listdir(staging):
                        if fname.startswith(("_", ".")):
                            continue
                        # Prefix delta files so they can never collide with
                        # linked ones.
                        os.rename(
                            os.path.join(staging, fname),
                            os.path.join(nxt_dir, f"d{nxt}-{fname}"),
                        )
                    detail = {"rows": n_new}
                self._commit(nxt, "INSERT", {**detail, **(commit_detail or {})})
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return n_new

    def _rewrite(self, df: DataFrame, op: str, detail: dict | None = None,
                 observation=None, base_version: int | None = None) -> int:
        """Full-snapshot rewrite commit (UPDATE/DELETE path). Clears any
        LSH index: the rewrite is unpartitioned, so a stale bucket layout
        must not be trusted afterwards. Single job: the row count (plus any
        caller-attached metrics) rides the write via ``observe`` — no
        post-write re-read."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from vrod_spark.errors import CommitConflictError

        if base_version is None:
            base_version = self.version
        if observation is None:
            observation = Observation()
            df = df.observe(observation, F.count(F.lit(1)).alias("rows"))
        part_key = self.meta.get("partition_by")
        staging = os.path.join(self.path, f".staging-{uuid.uuid4().hex}")
        try:
            if part_key:
                # Preserve the meta-key partition layout across rewrites;
                # pk is re-derived (UPDATE may move rows across partitions).
                (
                    df.withColumn("pk", F.col("meta").getItem(part_key))
                    .write.partitionBy("pk")
                    .mode("overwrite")
                    .parquet(staging)
                )
            else:
                df.write.mode("overwrite").parquet(staging)
            n = int(observation.get["rows"])
            # Read-modify-write: the long Spark job above ran unlocked, so
            # a concurrent commit may have superseded the snapshot this
            # rewrite derived from. Detect it under the lock and refuse —
            # silently swapping the pointer would DROP that commit's rows.
            with self._commit_lock():
                if self.version != base_version:
                    raise CommitConflictError(
                        f"{op} derived from v{base_version} but CURRENT is "
                        f"v{self.version}; re-read and retry"
                    )
                nxt, nxt_dir = self._next_version_dir()
                os.rename(staging, nxt_dir)
                if self.meta.get("index"):
                    self.update_meta(index=None)
                self._commit(nxt, op, {**(detail or {}), "rows": n})
            return n
        except Exception:
            shutil.rmtree(staging, ignore_errors=True)
            raise

    def update(self, predicate: str, assignments: dict[str, str],
               *, retries: int = 3) -> int:
        """UPDATE (builder.rs:53-57): copy-on-write rewrite of the snapshot
        with `assignments` (col -> SQL expression) applied where
        `predicate` (SQL boolean over the record columns) holds. The
        matched-row count is an ``observe`` metric on the rewrite job —
        one job total, not a separate filter().count() pre-pass.

        A racing commit surfaces as ``CommitConflictError`` from the
        rewrite; the mutation re-derives from the NEW snapshot and retries
        (bounded) — the standard optimistic-concurrency loop."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from vrod_spark.errors import CommitConflictError

        for attempt in range(retries + 1):
            base = self.version
            df = self.read(base)
            unknown = set(assignments) - set(df.columns)
            if unknown:
                from vrod_spark.errors import CommandArgError

                raise CommandArgError(
                    f"UPDATE set targets unknown column(s) {sorted(unknown)}; "
                    f"collection columns are {df.columns}"
                )
            cond = F.expr(predicate)
            obs = Observation()
            df = df.observe(
                obs,
                F.count(F.lit(1)).alias("rows"),
                F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)).alias("matched"),
            )
            # ONE select with every assignment computed against the ORIGINAL
            # row (SQL UPDATE semantics: all RHS see old values). Sequential
            # withColumn calls would let a later assignment — and the
            # re-resolved predicate itself — read columns already updated
            # by an earlier one (r11 review: update("id = 1", {"id":
            # "id + 100", "payload": "..."}) skipped the payload because
            # the second predicate resolution saw id = 101).
            out = df.select(
                *[
                    (
                        F.when(cond, F.expr(assignments[c])).otherwise(F.col(c))
                        if c in assignments
                        else F.col(c)
                    ).alias(c)
                    for c in df.columns
                ]
            )
            try:
                self._rewrite(out, "UPDATE", {"predicate": predicate},
                              observation=obs, base_version=base)
                return int(obs.get["matched"])
            except CommitConflictError:
                if attempt == retries:
                    raise

    def delete(self, predicate: str, *, retries: int = 3) -> int:
        """DELETE (builder.rs:58-62): anti-filter rewrite. Matched count =
        rows before (parquet footers, driver-side, no job) minus rows the
        rewrite kept (its observe metric) — NOT a pre-filter observation:
        a constant-true predicate ("true", "1=1") folds the keep-filter to
        an empty relation and the optimizer PRUNES the subtree including
        the CollectMetrics node, so that observation never fires and its
        get() fails (r11 review, found by the REINDEX empty-collection
        test). The difference counts exactly the pred-TRUE rows —
        NULL-evaluating predicates keep their rows on both sides.
        Conflicting commits retry like :meth:`update`."""
        from pyspark.sql import functions as F

        from vrod_spark.errors import CommitConflictError

        for attempt in range(retries + 1):
            base = self.version
            n_before = self._footer_rowcount(self.version_dir(base))
            df = self.read(base)
            pred = F.expr(predicate)
            try:
                n_after = self._rewrite(
                    df.filter(~F.coalesce(pred, F.lit(False))),
                    "DELETE",
                    {"predicate": predicate},
                    base_version=base,
                )
                return n_before - int(n_after)
            except CommitConflictError:
                if attempt == retries:
                    raise

    def restore(self, version: int, *, retries: int = 3) -> int:
        """RESTORE: roll the collection back (or forward) to the content
        of a committed historical snapshot by COMMITTING A NEW VERSION
        with that content — history stays append-only (the superseded
        versions remain readable for audit until TRUNCATEWAL reclaims
        them), the Delta-Lake RESTORE contract rather than a destructive
        pointer rewind. Completes the lifecycle triangle the reference
        sketches (WAL + versioned storage, src/database/mod.rs:8-9):
        time-travel READ already exists (``read(version=)``); this is
        the time-travel WRITE.

        FAST PATH (metadata-only — the 100 TB shape): when the
        historical dir's on-disk layout matches what the collection's
        conventions produce today (flat ↔ no partition_by, ``pk=`` ↔
        partition_by), the restore is pure hard-links — O(files) driver
        work, ZERO Spark jobs, zero bytes copied; the row count comes
        from parquet footers. A ``bucket=``-partitioned (indexed)
        historical layout instead re-materializes through the logical
        read (the index config that wrote those buckets may have been
        superseded by any number of REINDEXes since, so the layout is
        not trustworthy), paying one rewrite job.

        Any CURRENT index is cleared either way — the same contract as
        UPDATE/DELETE: content changed, REINDEX re-derives. Returns the
        restored row count."""
        import pyarrow.parquet as pq

        from vrod_spark.errors import CommandArgError, CommitConflictError

        version = int(version)
        src = self._require_version_dir(version)
        if version == self.version:
            raise CommandArgError(
                f"{self.name} is already at version {version}; "
                "RESTORE targets a historical snapshot"
            )
        # isdir is not enough here: a crashed writer leaves an orphaned
        # v{N} dir that was never pointed to by _CURRENT and may hold a
        # PARTIAL link set — promoting it would present data loss as a
        # successful rollback. Time-travel READS share the risk surface
        # but not the blast radius (they don't commit); RESTORE requires
        # proof of commit.
        if version not in self.committed_versions():
            raise CommandArgError(
                f"version {version} of {self.name} is on disk but has no "
                "commit record (an orphaned directory from a crashed "
                "writer, or its WAL line was lost) — refusing to RESTORE "
                "possibly-partial content"
            )
        entries = os.listdir(src)
        part_key = self.meta.get("partition_by")
        bucketed = any(e.startswith("bucket=") for e in entries)
        pk_laid = any(e.startswith("pk=") for e in entries)
        linkable = not bucketed and (pk_laid == bool(part_key))
        if linkable:
            # Count rows from the SOURCE dir's parquet footers before
            # taking the lock: the dir is immutable and the links will
            # share its inodes, but footer reads are open+read per file —
            # O(files) I/O that must not sit inside the commit lock's
            # stale-breaker budget (the locked tail below is link+swap
            # metadata ops only).
            n = self._footer_rowcount(src)
            linked = False
            with self._commit_lock() as beat:
                # Re-check under the lock: a racing commit may have moved
                # CURRENT onto the target (restore would then be a no-op
                # duplicate) — refuse, same shape as the rewrite conflict.
                if version == self.version:
                    raise CommitConflictError(
                        f"concurrent commit moved {self.name} to "
                        f"v{version} while RESTORE was preparing"
                    )
                # Re-derive linkability from a FRESH meta read under the
                # lock (r11 advice): a racing commit between the check
                # above and lock acquisition can change the layout
                # conventions (first-insert pinning partition_by, or a
                # REINDEX) — a linked snapshot would then contradict the
                # meta that current-version read() trusts. The src dir is
                # immutable, so bucketed/pk_laid stand; only the meta
                # side can move.
                if not bucketed and pk_laid == bool(
                    self.meta.get("partition_by")
                ):
                    nxt, nxt_dir = self._next_version_dir()
                    os.makedirs(nxt_dir)
                    try:
                        self._link_existing(src, nxt_dir, heartbeat=beat)
                    except Exception:
                        shutil.rmtree(nxt_dir, ignore_errors=True)
                        raise
                    if self.meta.get("index"):
                        self.update_meta(index=None)
                    self._commit(
                        nxt, "RESTORE", {"restored_from": version, "rows": n}
                    )
                    linked = True
            if linked:
                return n
            # fell through: conventions moved under us — take the
            # re-materialize path below, which reads the logical rows and
            # writes them through the CURRENT conventions.
        # Layout mismatch (historical bucket= index layout, or a
        # partition_by added/removed since): re-materialize the logical
        # rows through the current conventions. read(version) is
        # immutable, so the OCC retry just re-runs the same job.
        for attempt in range(retries + 1):
            try:
                return self._rewrite(
                    self.read(version), "RESTORE", {"restored_from": version}
                )
            except CommitConflictError:
                if attempt == retries:
                    raise

    # -- maintenance -------------------------------------------------------
    def truncate_wal(self) -> dict:
        """Per-collection TRUNCATEWAL: clear the commit log and reclaim
        snapshot directories older than _CURRENT (checkpoint compaction).

        Runs under the commit lock (r11 review): an in-flight insert may
        have created its v{next} dir or a ``.staging-`` dir before
        swapping _CURRENT; an unlocked GC could rmtree either mid-write.
        Note the lock is held only for the (cheap) listing + unlink tail —
        staging WRITE jobs hold no lock, but their dirs are only eligible
        here when no writer holds the lock, and a writer acquires it
        before renaming staging into a version."""
        with self._commit_lock() as beat:
            return self._truncate_wal_locked(beat)

    def _truncate_wal_locked(self, heartbeat=None) -> dict:
        current = self.version
        # Index liveness across WAL compaction: live_index() proves an
        # index by its commit-version stamp being in committed_versions(),
        # and the compaction below collapses those to {0, current}. A LIVE
        # index (stamp committed per the pre-compaction WAL) is re-stamped
        # to the surviving checkpoint version — appends since its REINDEX
        # kept the bucket layout, so the CURRENT snapshot is what it
        # indexes. A STALE stamp (a killed REINDEX's meta debris) is
        # cleared — this is the maintenance op, and we hold the commit
        # lock. Heal BEFORE the orphan-dir rmtree below: a crash between
        # removing an orphan dir and clearing its stale stamp would free
        # the orphan's version NUMBER for a later commit to mint, making
        # the stale stamp read as committed (live) over a flat snapshot.
        # Meta-first leaves either (stale meta + orphan dir: number still
        # blocked, stamp still dead) or (clean meta + orphan dir: next
        # truncate reclaims) — both safe.
        idx = self.meta.get("index")
        if idx is not None and idx.get("version") is not None:
            if self.live_index() is not None:
                self.update_meta(index={**idx, "version": current})
            else:
                self.update_meta(index=None)
        removed = []
        for entry in os.listdir(self.path):
            if entry.startswith("v") and entry[1:].isdigit() and int(entry[1:]) != current:
                shutil.rmtree(os.path.join(self.path, entry))
                removed.append(entry)
                # rmtree of large snapshots is the one legitimately long
                # locked section — keep the lock visibly live.
                if heartbeat is not None:
                    heartbeat()
            elif entry.startswith(".staging-"):
                # Only reclaim ABANDONED staging (crashed writers): a live
                # writer's staging WRITE job holds no lock, so age-gate
                # instead — no legitimate staging write runs for an hour.
                p = os.path.join(self.path, entry)
                try:
                    if time.time() - os.path.getmtime(p) < 3600:
                        continue
                except FileNotFoundError:
                    continue
                shutil.rmtree(p)
                removed.append(entry)
        # Streaming replay guards survive truncation (r11 advice): the
        # idempotent-insert high-water mark per stream query lived only
        # in WAL lines, so TRUNCATEWAL while a stream was in flight
        # could let a post-restart replay duplicate the in-flight epoch.
        # Harvest max applied epoch per qtag into collection meta before
        # the log restarts; ingest consults meta alongside the WAL.
        hwm: dict[str, int] = dict(self.meta.get("stream_hwm") or {})
        for e in self.wal_entries():
            q = e.get("stream_query")
            if q is not None and "stream_epoch" in e:
                q = str(q)
                hwm[q] = max(int(hwm.get(q, -1)), int(e["stream_epoch"]))
        if hwm:
            self.update_meta(stream_hwm=hwm)
        # The log restarts from a CHECKPOINT line naming the surviving
        # snapshot (r11 review): an empty WAL left the kept version with
        # no commit record, so the first commit AFTER truncation made it
        # vanish from committed_versions() — permanently un-restorable
        # and absent from HISTORY despite its dir being retained.
        _atomic_write(
            os.path.join(self.path, WAL),
            json.dumps(
                {"op": "CHECKPOINT", "version": current, "ts": time.time()}
            )
            + "\n",
        )
        return {"truncated": self.name, "removed_versions": sorted(removed)}

    def wal_entries(self) -> list[dict]:
        wal_path = os.path.join(self.path, WAL)
        if not os.path.exists(wal_path):
            return []
        with open(wal_path) as f:
            return [json.loads(line) for line in f if line.strip()]

    # -- statistics (CBO) --------------------------------------------------
    # SURVEY §4.2: join reordering is "built-in (CBO with stats); ANALYZE
    # TABLE after BULKINSERT/REINDEX". Collections are path-based parquet,
    # so the stats home Catalyst actually reads is the session catalog:
    # ANALYZE registers the CURRENT snapshot as an external table in a
    # per-database namespace and runs ANALYZE TABLE ... FOR COLUMNS there.
    # Engine.sql then resolves fresh analyzed collections from the catalog
    # (with spark.sql.cbo.enabled), so multi-collection SQL gets
    # cardinality-aware join ordering and selectivity-aware broadcast
    # decisions — e.g. a filtered dimension whose raw files exceed
    # autoBroadcastJoinThreshold still broadcasts when NDV stats prove the
    # filtered slice is small (plan-pinned in tests/test_engine_stats.py).
    #
    # The in-memory catalog is process-local, so registrations die with the
    # SparkContext; the summary persisted in collection meta survives, and
    # freshness is re-checked per query (analyzed_table_if_fresh), falling
    # back to plain temp views when the catalog entry is gone or stale.

    def sql_namespace(self) -> str:
        """Session-catalog namespace for this collection's database. The
        namespace carries a hash of the database PATH, not just its name:
        the session catalog is SparkContext-global, so two databases named
        alike (say two test engines called "db") would otherwise register
        over each other and ``analyzed_table_if_fresh``'s version check —
        which only knows its own meta — could silently resolve a query
        against the other database's files."""
        import hashlib

        db_name = self.db.config.get("name") or os.path.basename(self.db.path)
        tag = hashlib.sha256(os.path.abspath(self.db.path).encode()).hexdigest()[:8]
        return "vrod_" + re.sub(r"\W", "_", db_name).lower() + "_" + tag

    def sql_table(self) -> str:
        """Qualified catalog name this collection's snapshot registers as."""
        safe = re.sub(r"\W", "_", self.name).lower()
        return f"{self.sql_namespace()}.{safe}"

    def _stats_columns(self, spark: SparkSession) -> list[str]:
        """Schema fields ANALYZE ... FOR COLUMNS supports (no array/map)."""
        fields = StructType.fromDDL(self.meta["schema"]).fields
        return [
            f.name
            for f in fields
            if f.dataType.typeName()
            not in ("array", "map", "struct", "variant", "udt")
        ]

    def analyze(self, *, columns: list[str] | None = None) -> dict:
        """ANALYZE: register the CURRENT snapshot in the session catalog and
        compute table + column statistics, Spark-side (the stats scan is a
        distributed aggregate — the same one-pass cost any warehouse's
        ANALYZE pays, amortized over every CBO-planned query after it).
        Partitioned layouts (bucket=/pk=) register a partition-recovered
        ``<name>__data`` table plus a projecting view so the public name
        keeps the collection's logical schema. Returns the summary that is
        also persisted under meta['stats'] (rowCount, bytes, per-column
        NDV/nulls/min/max) tagged with the analyzed version."""
        s = self.db.spark
        meta = self.meta
        v = self.version
        ns, tbl = self.sql_namespace(), self.sql_table()
        target = self.version_dir(v)
        entries = os.listdir(target) if os.path.isdir(target) else []
        part_col = None
        if any(e.startswith("bucket=") for e in entries):
            part_col = ("bucket", "int")
        elif any(e.startswith("pk=") for e in entries):
            part_col = ("pk", "string")
        field_names = [
            f.name for f in StructType.fromDDL(meta["schema"]).fields
        ]
        s.sql(f"CREATE DATABASE IF NOT EXISTS {ns}")
        # The previous registration (if any) may be either form — a flat
        # external table, or a view over a __data table (the layout can
        # change across versions, e.g. REINDEX turns flat into bucketed).
        # DROP VIEW/TABLE each error on the other object kind, so probe.
        try:
            s.sql(f"DROP VIEW IF EXISTS {tbl}")
        except Exception:
            s.sql(f"DROP TABLE IF EXISTS {tbl}")
        s.sql(f"DROP TABLE IF EXISTS {tbl}")
        if part_col is None:
            data_tbl = tbl
            s.sql(f"DROP TABLE IF EXISTS {tbl}__data")
            s.sql(
                f"CREATE TABLE {data_tbl} ({meta['schema']}) "
                f"USING parquet LOCATION '{target}'"
            )
        else:
            data_tbl = f"{tbl}__data"
            s.sql(f"DROP TABLE IF EXISTS {data_tbl}")
            s.sql(
                f"CREATE TABLE {data_tbl} "
                f"({meta['schema']}, {part_col[0]} {part_col[1]}) "
                f"USING parquet PARTITIONED BY ({part_col[0]}) "
                f"LOCATION '{target}'"
            )
            s.sql(f"ALTER TABLE {data_tbl} RECOVER PARTITIONS")
            s.sql(
                f"CREATE VIEW {tbl} AS "
                f"SELECT {', '.join(field_names)} FROM {data_tbl}"
            )
        cols = columns or self._stats_columns(s)
        # ONE stats scan, not two (r17): AnalyzeColumnCommand computes the
        # table-level stats (rowCount + sizeInBytes) alongside the column
        # NDV/null/min/max in the same distributed aggregate, so the
        # separate COMPUTE STATISTICS pass only re-scanned the snapshot
        # for numbers the FOR COLUMNS pass already produces. The plain
        # form remains for schemas with no analyzable column.
        if cols:
            s.sql(
                f"ANALYZE TABLE {data_tbl} COMPUTE STATISTICS "
                f"FOR COLUMNS {', '.join(cols)}"
            )
        else:
            s.sql(f"ANALYZE TABLE {data_tbl} COMPUTE STATISTICS")
        summary: dict = {"version": v, "table": tbl, "analyzed_at": time.time()}
        for row in s.sql(f"DESCRIBE TABLE EXTENDED {data_tbl}").collect():
            if row["col_name"] == "Statistics":
                summary["statistics"] = row["data_type"]
        col_stats: dict = {}
        for c in cols:
            info = {
                r["info_name"]: r["info_value"]
                for r in s.sql(f"DESCRIBE TABLE EXTENDED {data_tbl} {c}").collect()
            }
            col_stats[c] = {
                k: info.get(k)
                for k in ("distinct_count", "num_nulls", "min", "max",
                          "avg_col_len", "max_col_len")
            }
        summary["columns"] = col_stats
        # Meta is read-modify-write: take the commit lock (the same one
        # mutations hold for their meta updates) and re-validate that no
        # commit superseded the analyzed snapshot — otherwise this write
        # could resurrect a pre-REINDEX meta (lost index) or tag stale
        # stats as current. A superseded analysis just skips the meta
        # write: the catalog registration stays but
        # ``analyzed_table_if_fresh`` rejects it by version.
        with self._commit_lock():
            if self.version == v:
                self.update_meta(stats=summary)
        return summary

    def analyzed_table_if_fresh(self, session: SparkSession) -> str | None:
        """Qualified catalog name iff stats cover the CURRENT version and
        the registration still exists in this context's catalog; else None
        (caller falls back to a snapshot temp view — always correct, just
        planned without CBO cardinalities)."""
        stats = self.meta.get("stats")
        if not stats or stats.get("version") != self.version:
            return None
        tbl = self.sql_table()
        try:
            if not session.catalog.tableExists(tbl):
                return None
        except Exception:
            return None
        return tbl
