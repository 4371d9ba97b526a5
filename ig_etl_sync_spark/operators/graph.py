"""Graph-shaped sink: keyed node upsert, edge merge, cascading delete.

Re-expresses the reference's Neo4j sink (``internal/store/neo4j.go``) as
relational tables + MERGE-style DataFrame ops:

- S4 node upsert (``neo4j.go:86-88``): ``MERGE ... SET x = item`` =
  full-property replacement keyed on ``external_id``. Implemented as
  ``prev ANTI-JOIN updates  UNION  updates`` then atomic table swap —
  exactly Delta's ``MERGE WHEN MATCHED UPDATE SET * WHEN NOT MATCHED
  INSERT *`` without requiring Delta. The updates hold one row per key
  (``reconcile.hashed_incoming`` picks a duplicate key's winner).
- S5 edge merge (``neo4j.go:89-91``): the Cypher double-``MATCH`` means
  an edge lands only if BOTH endpoints exist → two ``left_semi`` joins
  (J2), then one identity dedup on ``(a_id, b_id)`` in the merge. An
  edge already stored is anti-joined away first: it has both endpoints
  (the S6 cascade drops it with either one), so MERGE would not change
  it. Only the buckets of new edges are rewritten, and a re-sent edge
  set (R2) publishes no version.
- S6 keyed delete with DETACH cascade (``neo4j.go:116-126``): node
  removal by anti-join PLUS explicit cleanup of every edge table touching
  that label — the one Neo4j behavior Spark does not give for free, so
  the store keeps an edge-endpoint registry and cascades.
- S7 index DDL (``neo4j.go:54-71``): the bucketed write layout below is
  the index analog — every node and edge table is hash-partitioned on
  its key, so a MERGE or point lookup reads only the key's bucket.
- S8 transactionality (``neo4j.go:77-81,148``): one write call is one
  transaction. ``write_nodes`` folds the upsert and the delete into ONE
  node-table write and adds one write per edge table its DETACH cascade
  rewrites; the writes stage concurrently, then land one atomic version
  flip per table — the reference's per-function atomicity, since a
  sync function issues exactly one write call.

Scale posture: node and edge tables ARE hash-bucketed —
``gbucket = pmod(xxhash64(key), n_buckets)`` partition directories
inside each immutable version. A MERGE reads and rewrites ONLY the
buckets containing changed keys (partition pruning serves the read;
:meth:`~ig_etl_sync_spark.sources.versioned.VersionedParquetTable.write_incremental`
hard-links every clean bucket from the previous version, so untouched
data is never rewritten — byte-identical by inode). A small CDC batch
against a 10B-node table therefore costs O(batch-touched buckets), not
O(table): write amplification is k/N for k dirty of N buckets. The
anti-join side broadcasts when the update batch is small (AQE demotes
automatically). Worst case — a batch whose keys spread across every
bucket — degenerates to the full rewrite, same as any file-pruned
MERGE (Delta included); raise ``n_buckets`` with table size so the
common small-batch case stays sub-linear.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ig_etl_sync_spark.sources.versioned import VersionedParquetTable

KEY_COL = "external_id"
#: Internal bucket partition column (never surfaced by nodes()/edges()).
GBUCKET = "gbucket"


@dataclass(frozen=True)
class EdgeType:
    a_label: str
    rel: str
    b_label: str

    @property
    def table_name(self) -> str:
        return f"edges_{self.a_label}_{self.rel}_{self.b_label}"


class GraphStore:
    """One :class:`~ig_etl_sync_spark.sources.versioned.VersionedParquetTable`
    per node label and per edge type."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_buckets: int = 16,
    ) -> None:
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1: {n_buckets}")
        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets
        os.makedirs(root, exist_ok=True)

    def _all_buckets(self) -> set[str]:
        return {str(b) for b in range(self.n_buckets)}

    @staticmethod
    def _share(df: DataFrame) -> DataFrame:
        """Protect a frame consumed by several downstream branches from
        re-evaluation (the diamond rule), as everywhere in the repo."""
        return df.localCheckpoint(eager=False)

    @staticmethod
    def _stage_and_commit(writes: list[tuple]) -> None:
        """Land one write call's table writes as one transaction (S8):
        ``writes`` holds ``(table, rows of the dirty buckets, dirty)``
        per touched table. Every table's (expensive) staging write runs
        CONCURRENTLY (Spark schedules jobs from multiple threads
        fairly), then the cheap pointer flips land one per table. A
        crash before the flips leaves only unpublished ``.stg-*``
        staging dirs — invisible to every reader and reclaimed by each
        table's ``vacuum()``."""

        def _stage(write):
            table, df, dirty = write
            return table.stage_incremental(df, GBUCKET, dirty)

        if len(writes) == 1:
            staged = [_stage(writes[0])]
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(8, len(writes))) as ex:
                staged = list(ex.map(_stage, writes))
        # all staging succeeded — land the (cheap, atomic) pointer flips
        for (table, *_), stage_dir in zip(writes, staged):
            table.commit_staged(stage_dir)

    # -- bucketing ---------------------------------------------------
    def _bucket_of(self, key: Column) -> Column:
        """Stable key→bucket hash. Engine-internal (never compared
        against an oracle), so xxhash64 — JVM-side, no md5 string
        round-trip."""
        return F.pmod(F.xxhash64(key.cast("string")), F.lit(self.n_buckets)).cast(
            "int"
        )

    def _dirty_buckets(self, *key_frames: DataFrame | None) -> set[str]:
        """Distinct bucket values touched by any of the key frames.
        Collects ≤ n_buckets ints — bounded regardless of batch size."""
        dirty: set[str] = set()
        for kf in key_frames:
            if kf is None:
                continue
            rows = (
                kf.select(self._bucket_of(F.col(KEY_COL)).alias(GBUCKET))
                .distinct()
                .collect()
            )
            dirty.update(str(r[GBUCKET]) for r in rows)
        return dirty

    # -- registry (needed for the DETACH cascade) --------------------
    #
    # One immutable marker file per edge type, never rewritten: the
    # registry is append-only, so there is no read-modify-write race
    # (two processes registering concurrently cannot drop each other's
    # entry, unlike a single rewritten JSON list), no mutable file to
    # tear (a crash mid-write leaves only an invisible tmp) — a
    # torn/missing registry would silently disable the DETACH cascade
    # and leave orphan edges.
    @property
    def _registry_dir(self) -> str:
        return os.path.join(self.root, "_edges")

    def _load_registry(self) -> list[EdgeType]:
        if not os.path.isdir(self._registry_dir):
            return []
        out = []
        for fn in sorted(os.listdir(self._registry_dir)):
            if not fn.endswith(".json"):
                continue
            try:
                with open(os.path.join(self._registry_dir, fn)) as f:
                    out.append(EdgeType(**json.load(f)))
            except (OSError, ValueError, TypeError):
                continue  # unpublished/torn marker = not registered
        return out

    def _register_edge(self, et: EdgeType) -> None:
        marker = os.path.join(self._registry_dir, f"{et.table_name}.json")
        if os.path.exists(marker):
            return
        os.makedirs(self._registry_dir, exist_ok=True)
        tmp = marker + f".{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            json.dump(et.__dict__, f)
        try:
            # hard-link publish: atomic visibility + loses cleanly to a
            # concurrent registrant of the same type
            os.link(tmp, marker)
        except FileExistsError:
            pass
        os.unlink(tmp)

    # -- tables ------------------------------------------------------
    def _node_table(self, label: str) -> VersionedParquetTable:
        return VersionedParquetTable(
            self.spark, os.path.join(self.root, f"nodes_{label}")
        )

    def _edge_table(self, et: EdgeType) -> VersionedParquetTable:
        return VersionedParquetTable(
            self.spark, os.path.join(self.root, et.table_name)
        )

    @staticmethod
    def _strip(df: DataFrame | None) -> DataFrame | None:
        """Drop the internal bucket column from user-facing reads."""
        if df is not None and GBUCKET in df.columns:
            return df.drop(GBUCKET)
        return df

    def nodes(self, label: str) -> DataFrame | None:
        return self._strip(self._node_table(label).read())

    def edges(self, a_label: str, rel: str, b_label: str) -> DataFrame | None:
        return self._strip(self._edge_table(EdgeType(a_label, rel, b_label)).read())

    # -- S4 + S6 folded: one transaction per write call --------------
    def write_nodes(
        self,
        label: str,
        to_create: DataFrame | None = None,
        to_delete: DataFrame | None = None,
    ) -> None:
        """Upsert ``to_create`` (full-property replace) and delete keys in
        ``to_delete`` with their DETACH cascade, as one transaction: one
        version flip of the node table plus one per edge table the
        cascade rewrites. ``to_create`` holds one row per key, as a
        reconcile diff does (``reconcile.hashed_incoming``); ``to_delete``
        may repeat one.

        Incremental: only buckets containing a created/deleted key are
        read (partition-pruned) and rewritten; every clean bucket of
        the previous version is hard-linked through unchanged. An empty
        diff (no creates, and no deletes or no table) writes nothing.
        """
        table = self._node_table(label)
        if to_create is None and (to_delete is None or not table.exists()):
            return
        prev = table.read()

        upd = (
            to_create.withColumn(KEY_COL, F.col(KEY_COL).cast("string"))
            .withColumn(GBUCKET, self._bucket_of(F.col(KEY_COL)))
            if to_create is not None
            else None
        )
        dels = (
            to_delete.select(F.col(KEY_COL).cast("string").alias(KEY_COL))
            if to_delete is not None
            else None
        )
        if dels is not None:
            # consumed by the dirty collect, the node anti-join, and
            # once per registered edge type in the DETACH cascade
            dels = self._share(dels)

        # also the a-side cascade's dirty buckets
        del_buckets = self._dirty_buckets(dels)
        if prev is None:
            # new table: nothing to link, so declaring every bucket
            # dirty is exact AND skips the dirty-bucket collect job
            cur = upd
            dirty = self._all_buckets()
        else:
            # MERGE over dirty buckets only: matched → replace entire
            # row; not-matched → insert. Clean buckets never enter the
            # plan (partition pruning on the isin filter).
            dirty = self._dirty_buckets(upd) | del_buckets
            cur = prev.where(F.col(GBUCKET).isin([int(b) for b in dirty]))
            if upd is not None:
                kept = cur.join(upd.select(KEY_COL), on=KEY_COL, how="left_anti")
                cur = kept.unionByName(upd, allowMissingColumns=True)
        writes = []
        if dels is not None:
            cur = cur.join(dels, on=KEY_COL, how="left_anti")
            writes = self._detach_cascade(label, dels, del_buckets)
        if prev is not None:
            # the USING joins move the key column first: keep the
            # table's column order in the rewritten buckets
            added = [c for c in cur.columns if c not in prev.columns]
            cur = cur.select(*prev.columns, *added)
        self._stage_and_commit([(table, cur, dirty), *writes])

    def _detach_cascade(
        self, label: str, deleted_keys: DataFrame, del_buckets: set[str]
    ) -> list[tuple]:
        """DETACH DELETE semantics (``neo4j.go:117``): the write that
        removes every edge whose endpoint was just deleted, for each
        registered edge type touching this label that holds one.

        Edge tables bucket on ``a_id``. An a-side cascade's dirty
        buckets are the deleted keys' buckets, ``del_buckets`` (already
        collected by write_nodes); a b-side cascade
        first finds the buckets holding affected edges via a
        column-pruned semi-join scan of (b_id, bucket), then rewrites
        only those. ``deleted_keys`` arrives checkpointed from
        write_nodes (consumed once per registered edge type); a repeated
        key is harmless, since it only feeds semi- and anti-joins."""
        dels = deleted_keys
        writes = []
        for et in self._load_registry():
            if label not in (et.a_label, et.b_label):
                continue
            table = self._edge_table(et)
            prev = table.read()
            if prev is None:
                continue
            dirty = set(del_buckets) if et.a_label == label else set()
            if et.b_label == label:
                hit = (
                    prev.join(
                        F.broadcast(dels.select(F.col(KEY_COL).alias("b_id"))),
                        on="b_id",
                        how="left_semi",
                    )
                    .select(GBUCKET)
                    .distinct()
                    .collect()
                )
                dirty |= {str(r[GBUCKET]) for r in hit}
            if not dirty:
                continue  # no bucket holds an affected edge — no-op
            cur = prev.where(F.col(GBUCKET).isin([int(b) for b in dirty]))
            if et.a_label == label:
                cur = cur.join(
                    dels.select(F.col(KEY_COL).alias("a_id")), on="a_id", how="left_anti"
                )
            if et.b_label == label:
                cur = cur.join(
                    dels.select(F.col(KEY_COL).alias("b_id")), on="b_id", how="left_anti"
                )
            # the USING anti-joins move their key first: keep the
            # table's column order in the rewritten buckets
            writes.append((table, cur.select(*prev.columns), dirty))
        return writes

    # -- S5: edge merge with endpoint validation (J2) ----------------
    def write_edges(
        self,
        a_label: str,
        rel: str,
        b_label: str,
        edges: DataFrame,
    ) -> None:
        """Merge the new edges of ``edges`` ``(a_id, b_id)`` whose
        endpoints both exist. An edge already in the table is skipped
        before the endpoint semi-joins, so only the buckets of new,
        validated edges are rewritten, and a batch with none publishes
        no version; repeats collapse in the one identity dedup."""
        et = EdgeType(a_label, rel, b_label)
        self._register_edge(et)

        a_nodes = self.nodes(a_label)
        b_nodes = self.nodes(b_label)
        # MATCH (a) MATCH (b): drop edges whose endpoints don't exist.
        if a_nodes is None or b_nodes is None:
            return  # no endpoints exist at all → every edge is dropped
        incoming = edges.select(
            F.col("a_id").cast("string").alias("a_id"),
            F.col("b_id").cast("string").alias("b_id"),
        )
        table = self._edge_table(et)
        prev = table.read()
        if prev is not None:
            # An edge already stored has both endpoints: the DETACH
            # cascade removes it in the same transaction that deletes
            # either one, so MERGE would leave it unchanged.
            incoming = incoming.join(
                prev.select("a_id", "b_id"), on=["a_id", "b_id"], how="left_anti"
            )
        # Node tables are usually the big side; the incoming edge batch is
        # the small one → semi-join with edge side broadcast-eligible.
        validated = incoming.join(
            a_nodes.select(F.col(KEY_COL).alias("a_id")), on="a_id", how="left_semi"
        ).join(
            b_nodes.select(F.col(KEY_COL).alias("b_id")), on="b_id", how="left_semi"
        ).withColumn(GBUCKET, self._bucket_of(F.col("a_id")))

        if prev is None:
            # new table: all-dirty is exact (nothing to link) and skips
            # the dirty-bucket collect job, so validated is staged
            # exactly once — a checkpoint would only re-materialize it
            merged = validated.dropDuplicates(["a_id", "b_id"])
            dirty = self._all_buckets()
        else:
            # Diamond rule: validated feeds BOTH the dirty-bucket
            # collect and the MERGE union — without a checkpoint the
            # anti-join and the two semi-joins run twice per sync.
            validated = self._share(validated)
            # MERGE dedup by edge identity (a_id, b_id): same a_id ⇒
            # same bucket, so deduping inside dirty buckets is complete.
            dirty = {
                str(r[GBUCKET])
                for r in validated.select(GBUCKET).distinct().collect()
            }
            if not dirty:
                return  # no new validated edge — nothing to merge
            merged = (
                prev.where(F.col(GBUCKET).isin([int(b) for b in dirty]))
                .unionByName(validated)
                .dropDuplicates(["a_id", "b_id"])
            )
        self._stage_and_commit([(table, merged, dirty)])

    # -- invariants (reference self-tests, SURVEY §5) ----------------
    def orphan_edge_count(self) -> int:
        """Edges whose endpoints no longer exist — must be 0 after any
        sync (deletion-path invariant, ``main.go:288-295``)."""
        total = 0
        for et in self._load_registry():
            e = self.edges(et.a_label, et.rel, et.b_label)
            if e is None:
                continue
            a = self.nodes(et.a_label)
            b = self.nodes(et.b_label)
            a_keys = (
                a.select(F.col(KEY_COL).alias("a_id"))
                if a is not None
                else e.sparkSession.createDataFrame([], "a_id string")
            )
            b_keys = (
                b.select(F.col(KEY_COL).alias("b_id"))
                if b is not None
                else e.sparkSession.createDataFrame([], "b_id string")
            )
            orphans = e.join(a_keys, "a_id", "left_anti").unionByName(
                e.join(b_keys, "b_id", "left_anti")
            )
            total += orphans.count()
        return total
