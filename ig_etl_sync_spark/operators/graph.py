"""Graph-shaped sink: keyed node upsert, edge merge, cascading delete.

Re-expresses the reference's Neo4j sink (``internal/store/neo4j.go``) as
relational tables + MERGE-style DataFrame ops:

- S4 node upsert (``neo4j.go:86-88``): ``MERGE ... SET x = item`` =
  full-property replacement keyed on ``external_id``. Implemented as
  ``prev ANTI-JOIN updates  UNION  updates`` then atomic table swap —
  exactly Delta's ``MERGE WHEN MATCHED UPDATE SET * WHEN NOT MATCHED
  INSERT *`` without requiring Delta.
- S5 edge merge (``neo4j.go:89-91``): the Cypher double-``MATCH`` means
  an edge lands only if BOTH endpoints exist → two ``left_semi`` joins
  (J2), then identity dedup on ``(a_id, b_id)``.
- S6 keyed delete with DETACH cascade (``neo4j.go:116-126``): node
  removal by anti-join PLUS explicit cleanup of every edge table touching
  that label — the one Neo4j behavior Spark does not give for free, so
  the store keeps an edge-endpoint registry and cascades.
- S7 index DDL (``neo4j.go:54-71``): no Catalyst analog needed; the
  physical equivalent at scale is bucketing/Z-ORDER on ``external_id``
  (noted, not required for parity).
- S8 transactionality (``neo4j.go:77-81,148``): each table write is an
  atomic version flip; upsert+delete for one function is folded into ONE
  write per table, preserving the reference's per-function atomicity.

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
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
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


def _dedup_last_writer(df: DataFrame, keys: list[str]) -> DataFrame:
    """Deterministic last-writer-wins for duplicate keys.

    The reference's ``UNWIND`` order silently decided which duplicate won
    (``neo4j.go:87,95``, SURVEY §2.5); we define the winner as the max
    row by a stable full-row ordering, so re-runs are reproducible.
    """
    others = [c for c in df.columns if c not in keys]
    if not others:
        return df.dropDuplicates(keys)
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc_nulls_last() for c in others])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


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
        #: active sync batch: {table_key: (table, full_view, dirty, absorb)}
        self._pending: dict | None = None
        os.makedirs(root, exist_ok=True)

    # -- S8: batched sync (one staging round + one commit per table) --
    @contextmanager
    def sync(self):
        """Batch every table write issued inside the context into ONE
        shared staging round followed by one pointer flip per touched
        table — the reference's one-transaction-per-sync-function
        semantics (``neo4j.go:77-148``: upsert + delete land in a
        single Neo4j transaction, not one per statement). A write
        outside the context is a one-call batch of its own.

        Inside the batch, reads (:meth:`nodes`, :meth:`edges`, and the
        internal merge/cascade reads) observe pending writes; outside
        readers see nothing until the context exits. The expensive
        staging writes of all touched tables run CONCURRENTLY (Spark
        schedules jobs from multiple threads fairly), then the cheap
        pointer flips land sequentially. A crash before the flips
        leaves only unpublished ``.stg-*`` staging dirs — invisible to
        every reader and reclaimed by each table's ``vacuum()``.
        """
        if self._pending is not None:
            raise RuntimeError("a sync batch is already active on this store")
        self._pending = {}
        try:
            yield self
        except BaseException:
            self._pending = None  # abandon: nothing staged or visible
            raise
        pending, self._pending = self._pending, None
        self._stage_and_commit(pending)

    def _all_buckets(self) -> set[str]:
        return {str(b) for b in range(self.n_buckets)}

    @staticmethod
    def _share(df: DataFrame) -> DataFrame:
        """Protect a frame consumed by several downstream branches from
        re-evaluation (the diamond rule), as everywhere in the repo."""
        return df.localCheckpoint(eager=False)

    def _read_table(self, key: tuple[str, str], table) -> DataFrame | None:
        """Latest content of a table, overlay-aware: a pending write in
        the active batch shadows the committed version."""
        if self._pending is not None and key in self._pending:
            return self._pending[key][1]
        return table.read()

    def _write_table(
        self,
        key: tuple[str, str],
        table,
        merged: DataFrame,
        dirty: set[str],
        absorb: bool,
        prev_view: DataFrame | None,
    ) -> None:
        """Defer one table write to the active batch, with an overlay
        view for intra-batch readers.

        ``merged`` holds exactly the surviving rows of the ``dirty``
        buckets; ``prev_view`` is the table's full prior content (the
        overlay view when pending, else the committed read; None for a
        new table)."""
        if prev_view is None or absorb:
            # merged IS the full view; the caller already checkpointed
            # the expensive frame feeding it, so another checkpoint
            # layer would just re-materialize the same rows
            view = merged
        else:
            # compose with the NEW dirty set only: prev_view (the
            # overlay) already carries earlier pending changes, whose
            # buckets must survive this filter. The composed view is
            # read by later batch steps AND the final staging —
            # checkpoint so the merge plan runs once.
            view = prev_view.where(
                ~F.col(GBUCKET).isin([int(b) for b in dirty])
            )
            view = self._share(
                view.unionByName(merged, allowMissingColumns=True)
            )
        if key in self._pending:
            table, _view, acc_dirty, acc_absorb = self._pending[key]
            dirty = acc_dirty | dirty
            absorb = acc_absorb or absorb
        self._pending[key] = (table, view, dirty, absorb)

    def _stage_and_commit(self, pending: dict) -> None:
        if not pending:
            return
        specs = []
        for table, view, dirty, absorb in pending.values():
            df = view.where(F.col(GBUCKET).isin([int(b) for b in dirty]))
            specs.append((table, df, dirty, absorb))

        def _stage(spec):
            table, df, dirty, absorb = spec
            return table.stage_incremental(
                df, GBUCKET, dirty, absorb_unpartitioned=absorb
            )

        if len(specs) == 1:
            staged = [_stage(specs[0])]
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(8, len(specs))) as ex:
                staged = list(ex.map(_stage, specs))
        # all staging succeeded — land the (cheap, atomic) pointer flips
        for (table, *_), stage_dir in zip(specs, staged):
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
        return self._strip(
            self._read_table(("nodes", label), self._node_table(label))
        )

    def edges(self, a_label: str, rel: str, b_label: str) -> DataFrame | None:
        et = EdgeType(a_label, rel, b_label)
        return self._strip(
            self._read_table(("edges", et.table_name), self._edge_table(et))
        )

    # -- S4 + S6 folded: one atomic write per function ---------------
    def write_nodes(
        self,
        label: str,
        to_create: DataFrame | None = None,
        to_delete: DataFrame | None = None,
    ) -> None:
        """Upsert ``to_create`` (full-property replace) and delete keys in
        ``to_delete`` (with DETACH cascade), as one table version flip.

        Incremental: only buckets containing a created/deleted key are
        read (partition-pruned) and rewritten; every clean bucket of
        the previous version is hard-linked through unchanged.
        """
        if self._pending is None:  # a lone write is a one-call batch
            with self.sync():
                return self.write_nodes(label, to_create, to_delete)
        key = ("nodes", label)
        table = self._node_table(label)
        prev = self._read_table(key, table)

        if to_create is not None:
            upd = _dedup_last_writer(
                to_create.withColumn(KEY_COL, F.col(KEY_COL).cast("string")), [KEY_COL]
            ).withColumn(GBUCKET, self._bucket_of(F.col(KEY_COL)))
            # Diamond rule: upd feeds the dirty-bucket collect, the
            # matched-row anti-join AND the union — checkpoint or the
            # last-writer dedup window runs three times.
            upd = self._share(upd)
        else:
            upd = None
        dels = (
            to_delete.select(F.col(KEY_COL).cast("string").alias(KEY_COL)).distinct()
            if to_delete is not None
            else None
        )
        if dels is not None:
            # consumed by the dirty collect, the node anti-join, and
            # once per registered edge type in the DETACH cascade
            dels = self._share(dels)

        if prev is None and upd is None:
            return
        absorb = prev is not None and GBUCKET not in prev.columns
        if absorb:
            # legacy unbucketed layout: migrate via one full rewrite
            # (prev re-includes every unpartitioned row, so the guard
            # in write_incremental is safe to waive)
            prev = prev.withColumn(GBUCKET, self._bucket_of(F.col(KEY_COL)))
            dirty = self._all_buckets()
        elif prev is None:
            # new table: nothing to link, so declaring every bucket
            # dirty is exact AND skips the dirty-bucket collect job
            dirty = self._all_buckets()
        else:
            dirty = self._dirty_buckets(upd, dels)

        if prev is None:
            cur = upd
        else:
            # MERGE over dirty buckets only: matched → replace entire
            # row; not-matched → insert. Clean buckets never enter the
            # plan (partition pruning on the isin filter).
            cur = prev.where(
                F.col(GBUCKET).isin([int(b) for b in dirty])
            )
            if upd is not None:
                kept = cur.join(upd.select(KEY_COL), on=KEY_COL, how="left_anti")
                cur = kept.unionByName(upd, allowMissingColumns=True)
        if dels is not None and cur is not None:
            cur = cur.join(dels, on=KEY_COL, how="left_anti")

        if cur is not None:
            self._write_table(key, table, cur, dirty, absorb, prev)

        if dels is not None:
            self._detach_cascade(label, dels)

    def _detach_cascade(self, label: str, deleted_keys: DataFrame) -> None:
        """DETACH DELETE semantics (``neo4j.go:117``): remove every edge
        whose endpoint was just deleted, across all registered edge types
        touching this label.

        Edge tables bucket on ``a_id``. An a-side cascade knows its
        dirty buckets from the deleted keys alone; a b-side cascade
        first finds the buckets holding affected edges via a
        column-pruned semi-join scan of (b_id, bucket), then rewrites
        only those. ``deleted_keys`` arrives deduplicated and
        checkpointed from write_nodes (consumed once per registered
        edge type)."""
        dels = deleted_keys
        for et in self._load_registry():
            if label not in (et.a_label, et.b_label):
                continue
            key = ("edges", et.table_name)
            table = self._edge_table(et)
            prev = self._read_table(key, table)
            if prev is None:
                continue
            cur = prev
            absorb = GBUCKET not in cur.columns
            if absorb:  # legacy layout: migrate via one full rewrite
                cur = cur.withColumn(GBUCKET, self._bucket_of(F.col("a_id")))
                prev = cur
                dirty = self._all_buckets()
            else:
                dirty = set()
                if et.a_label == label:
                    dirty |= self._dirty_buckets(
                        dels.select(F.col(KEY_COL))
                    )
                if et.b_label == label:
                    hit = (
                        cur.join(
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
            cur = cur.where(F.col(GBUCKET).isin([int(b) for b in dirty]))
            if et.a_label == label:
                cur = cur.join(
                    dels.select(F.col(KEY_COL).alias("a_id")), on="a_id", how="left_anti"
                )
            if et.b_label == label:
                cur = cur.join(
                    dels.select(F.col(KEY_COL).alias("b_id")), on="b_id", how="left_anti"
                )
            self._write_table(key, table, cur, dirty, absorb, prev)

    # -- S5: edge merge with endpoint validation (J2) ----------------
    def write_edges(
        self,
        a_label: str,
        rel: str,
        b_label: str,
        edges: DataFrame,
        assume_unique: bool = False,
    ) -> None:
        """``assume_unique=True`` asserts the caller's frame is already
        identity-deduplicated on ``(a_id, b_id)`` and skips the internal
        ``dropDuplicates`` — a full shuffle of the edge batch. Reconcile
        diff outputs and any frame that just ran its own identity dedup
        qualify; when in doubt leave it False (a violated assertion
        surfaces as duplicate edges in the table)."""
        if self._pending is None:  # a lone write is a one-call batch
            with self.sync():
                return self.write_edges(a_label, rel, b_label, edges, assume_unique)
        et = EdgeType(a_label, rel, b_label)
        self._register_edge(et)

        a_nodes = self.nodes(a_label)
        b_nodes = self.nodes(b_label)
        incoming = edges.select(
            F.col("a_id").cast("string").alias("a_id"),
            F.col("b_id").cast("string").alias("b_id"),
        )
        if not assume_unique:
            incoming = incoming.dropDuplicates(["a_id", "b_id"])

        # MATCH (a) MATCH (b): drop edges whose endpoints don't exist.
        # Node tables are usually the big side; the incoming edge batch is
        # the small one → semi-join with edge side broadcast-eligible.
        if a_nodes is None or b_nodes is None:
            return  # no endpoints exist at all → every edge is dropped
        validated = incoming.join(
            a_nodes.select(F.col(KEY_COL).alias("a_id")), on="a_id", how="left_semi"
        ).join(
            b_nodes.select(F.col(KEY_COL).alias("b_id")), on="b_id", how="left_semi"
        ).withColumn(GBUCKET, self._bucket_of(F.col("a_id")))

        key = ("edges", et.table_name)
        table = self._edge_table(et)
        prev = self._read_table(key, table)
        if prev is not None:
            # Diamond rule: validated feeds BOTH the dirty-bucket
            # collect and the MERGE union — without a checkpoint the
            # batch dedup + two endpoint semi-joins run twice per sync.
            # (A brand-new table declares all buckets dirty and stages
            # validated exactly once — checkpointing there would only
            # re-materialize the rows on the critical path.)
            validated = self._share(validated)
        absorb = False
        if prev is None:
            merged = validated
            # new table: all-dirty is exact (nothing to link) and skips
            # the dirty-bucket collect job
            dirty = self._all_buckets()
        elif GBUCKET not in prev.columns:  # legacy layout: migrate
            absorb = True
            prev = prev.withColumn(GBUCKET, self._bucket_of(F.col("a_id")))
            merged = prev.unionByName(validated).dropDuplicates(["a_id", "b_id"])
            dirty = self._all_buckets()
        else:
            # MERGE dedup by edge identity (a_id, b_id): same a_id ⇒
            # same bucket, so deduping inside dirty buckets is complete.
            dirty = {
                str(r[GBUCKET])
                for r in validated.select(GBUCKET).distinct().collect()
            }
            if not dirty:
                return  # nothing validated — nothing to merge
            merged = (
                prev.where(F.col(GBUCKET).isin([int(b) for b in dirty]))
                .unionByName(validated)
                .dropDuplicates(["a_id", "b_id"])
            )
        self._write_table(key, table, merged, dirty, absorb, prev)

    # -- traversal (graph reads the reference never needed; rounds out
    # the graph-shaped store: n-hop = chain of equi-joins) ------------
    def traverse(self, *hops: tuple[str, str, str]) -> DataFrame | None:
        """Multi-hop traversal: ``traverse(("org","has","project"),
        ("project","has","bucket"))`` returns one row per path with
        columns ``<label>_id`` per visited node. Each hop is an
        equi-join edge_table(b_id) = next_edge(a_id); Catalyst orders /
        broadcasts as sizes dictate.
        """
        result = None
        end_col = None  # column holding the current path endpoint
        used: set[str] = set()

        def fresh(label: str) -> str:
            # repeated labels (self-edges, revisited labels) get indexed
            # names — duplicate column names would be ambiguous.
            name = f"{label}_id"
            n = 1
            while name in used:
                name = f"{label}_id_{n}"
                n += 1
            used.add(name)
            return name

        for i, (a, rel, b) in enumerate(hops):
            edges = self.edges(a, rel, b)
            if edges is None:
                return None
            if result is None:
                a_col = fresh(a)
                end_expected = a
            else:
                # The hop must start where the path currently ends.
                if end_col is None or not end_col.startswith(f"{a}_id"):
                    raise ValueError(
                        f"hop {i} starts at label {a!r} but the path so far "
                        f"ends at columns {result.columns}"
                    )
                a_col = end_col
            b_col = fresh(b)
            step = edges.select(
                F.col("a_id").alias(a_col), F.col("b_id").alias(b_col)
            )
            result = step if result is None else result.join(step, on=a_col)
            end_col = b_col
        return result

    # -- S7 index analog ---------------------------------------------
    def optimize(self, label: str, buckets: int | None = None) -> None:
        """Physical analog of the reference's ``CREATE INDEX`` on
        ``external_id`` (``neo4j.go:54-71``): rewrite the node table
        hash-clustered + sorted by key, so subsequent MERGE anti-joins
        and point lookups co-locate (Delta Z-ORDER / bucketing analog).
        Optional — correctness never depends on it.
        """
        table = self._node_table(label)
        cur = table.read()
        if cur is None:
            return
        if GBUCKET not in cur.columns:
            cur = cur.withColumn(GBUCKET, self._bucket_of(F.col(KEY_COL)))
        n = buckets or cur.sparkSession.sparkContext.defaultParallelism
        clustered = cur.repartition(n, F.col(GBUCKET)).sortWithinPartitions(
            GBUCKET, KEY_COL
        )
        # full rewrite by definition — every bucket is "dirty"
        table.write_incremental(
            clustered, GBUCKET, {str(b) for b in range(self.n_buckets)},
            absorb_unpartitioned=True,
        )

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
