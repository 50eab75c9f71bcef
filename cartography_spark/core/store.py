"""GraphStore — manifest-versioned node/edge triple tables with MERGE semantics.

Production target is Iceberg (``MERGE INTO nodes USING batch ON t.id = b.id
AND t.label = b.label WHEN MATCHED THEN UPDATE ... WHEN NOT MATCHED THEN
INSERT ...``), with tables partitioned by label and Z-ordered on id.  The
sandbox image has no Iceberg runtime jar, so this module implements the same
contract on plain parquet with a *per-label manifest* — the same idea as an
Iceberg snapshot's manifest list, specialized to label-partitioned tables:

    {root}/data/g{N}/nodes/_label=<label>/*.parquet   label slices written at commit N
    {root}/data/g{N}/edges/_label=<rel_label>/*.parquet
    {root}/_meta/v{N}.json    manifest: label -> {path, rows} + lineage + metrics
    {root}/_CURRENT           text file holding the live version

A commit writes ONLY the labels its batch touched into a new generation
directory, then publishes a manifest that points at the new slices for
touched labels and carries the parent's pointers forward for everything
else — O(|touched labels|) I/O per commit, not O(|graph|).  ``_CURRENT``
swings atomically; a crash mid-commit leaves the previous snapshot live
(Iceberg snapshot-isolation behavior) and the next commit garbage-collects
the unpublished generation.  Stage checkpoints (``stage_done``) make any
pipeline stage idempotently resumable: re-running a killed sync skips
stages whose (stage, update_tag) checkpoint already committed
(north_rule resumability).

Parity notes vs the reference:
  * upsert == Neo4j MERGE by id with ``ON CREATE SET firstseen``
    (reference: cartography/graph/querybuilder.py:372-401); here a set-wise
    left join preserves the matched rows' firstseen.  SET writes only the
    batch's declared properties (querybuilder.py:96-109 builds SET from the
    schema's props): matched rows keep property keys the new batch does not
    mention (per-key map merge), so multiple modules can enrich one node.
  * index creation (reference: cartography/graph/querybuilder.py:404-453,
    data/indexes.cypher) is a deliberate no-op on columnar storage: the
    equivalents are the per-label slice layout (partition pruning by label)
    + ``repartition`` on id before write so same-key rows co-locate, and
    min/max parquet stats give the pruning an index would.
  * Single writer per store root is assumed (the reference likewise runs
    one sync process per Neo4j database).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Iterable, Mapping
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cartography_spark.core.loader import EDGES_SCHEMA, NODES_SCHEMA

EDGE_KEY = ["src_id", "rel_label", "dst_id"]


def _merge_props(old_col, new_col):
    """Per-key property merge: new batch's keys win; keys the batch does not
    mention survive from the stored row (reference MERGE SET semantics —
    querybuilder.py:96-109 only SETs the schema-declared properties)."""
    old = F.coalesce(old_col, F.create_map().cast("map<string,string>"))
    new = F.coalesce(new_col, F.create_map().cast("map<string,string>"))
    kept = F.map_filter(old, lambda k, _: ~F.array_contains(F.map_keys(new), k))
    merged = F.map_concat(kept, new)
    return F.when(F.size(merged) > 0, merged).otherwise(F.lit(None))


class GraphStore:
    """Versioned (nodes, edges) pair with MERGE upsert / anti-join delete.

    Commits are incremental per label: each generation directory holds full
    replacement slices for the labels the commit touched; the manifest maps
    every live label to its current slice.
    """

    # Stale-id sets up to this many rows broadcast into delete's incident-edge
    # joins (~10M ids ≈ a few hundred MB serialized — the conventional
    # broadcast ceiling); larger sets fall back to AQE-chosen strategies.
    BROADCAST_DELETE_MAX_IDS = 10_000_000

    def __init__(self, spark: SparkSession, root: str, write_partitions: int | None = None):
        self.spark = spark
        self.root = root
        # Sized for the sandbox; at 100 TB this is labels x (table_bytes /
        # maxPartitionBytes) and would come from cluster config.
        self.write_partitions = write_partitions or max(
            4, int(spark.conf.get("spark.sql.shuffle.partitions", "32")) // 4
        )
        os.makedirs(os.path.join(root, "_meta"), exist_ok=True)

    # ----- snapshot plumbing ------------------------------------------------

    def _current_version(self) -> int:
        p = os.path.join(self.root, "_CURRENT")
        if not os.path.exists(p):
            return 0
        with open(p) as f:
            return int(f.read().strip())

    def current_meta(self) -> dict:
        return self._manifest(self._current_version())

    def committed_rows(self, sub: str, labels: Iterable[str] | None = None) -> int:
        """Total committed row count for a table's (optionally filtered)
        label slices, straight from the manifest — no Spark job.  Feeds the
        adaptive MERGE join shape (see :attr:`SEMI_MERGE_MIN_ROWS`)."""
        entries = self.current_meta().get(sub, {})
        if labels is not None:
            wanted = set(labels)
            entries = {k: v for k, v in entries.items() if k in wanted}
        return sum(int(e["rows"]) for e in entries.values())

    def label_rowcount(self, label: str) -> int | None:
        """Committed row count for one node label, straight from the manifest
        (the Iceberg-style stats a commit records) — no Spark job.  None if
        the label has never been committed."""
        entry = self.current_meta().get("nodes", {}).get(label)
        return int(entry["rows"]) if entry else None

    def _manifest(self, version: int) -> dict:
        if version <= 0:
            return {}
        p = os.path.join(self.root, "_meta", f"v{version}.json")
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def _read(
        self,
        sub: str,
        schema,
        version: int | None = None,
        labels: Iterable[str] | None = None,
    ) -> DataFrame:
        man = self._manifest(self._current_version() if version is None else version)
        entries = man.get(sub, {})
        if labels is not None:
            wanted = set(labels)
            entries = {k: v for k, v in entries.items() if k in wanted}
        paths = [os.path.join(self.root, e["path"]) for e in entries.values()]
        if not paths:
            return self.spark.createDataFrame([], schema)
        # Explicit schema pins column order; the label column is stored in the
        # data files (the _label partition dir is a routing duplicate), so a
        # direct leaf-dir read needs no partition discovery.
        df = self.spark.read.schema(schema).parquet(*paths)
        return df.select(*[f.name for f in schema.fields])

    def nodes(self, version: int | None = None, labels: Iterable[str] | None = None) -> DataFrame:
        """Node table; pass ``labels`` to physically prune to those slices."""
        return self._read("nodes", NODES_SCHEMA, version, labels)

    def edges(
        self, version: int | None = None, rel_labels: Iterable[str] | None = None
    ) -> DataFrame:
        """Edge table; pass ``rel_labels`` to physically prune to those slices."""
        return self._read("edges", EDGES_SCHEMA, version, rel_labels)

    # ----- write path ---------------------------------------------------------

    def _write_slices(self, df: DataFrame, sub: str, version: int, part_col: str) -> dict:
        """Write df into data/g{version}/{sub}/_label=<v>/ slices.

        Returns {label: {"path": relpath, "rows": n}}.  Row counts come from
        a partition-column-only scan of the fresh files (footer metadata —
        no data pages read).
        """
        gen_rel = os.path.join("data", f"g{version}", sub)
        gen_abs = os.path.join(self.root, gen_rel)
        (
            df.withColumn("_label", F.col(part_col))
            .repartition(self.write_partitions, part_col, df.columns[0])
            .sortWithinPartitions(part_col)
            .write.mode("overwrite")
            .partitionBy("_label")
            .parquet(gen_abs)
        )
        # Slice labels + row counts come from the freshly written partition
        # dirs and parquet footers, read driver-side with pyarrow — zero
        # Spark jobs (this is exactly the per-file stats an Iceberg manifest
        # records at commit; a real catalog hands them over the same way).
        return self._slice_stats(gen_abs, gen_rel)

    @staticmethod
    def _slice_stats(gen_abs: str, gen_rel: str) -> dict:
        """{label: {path, rows}} for every _label=* dir, from parquet footers."""
        import pyarrow.parquet as pq

        out: dict[str, dict] = {}
        if not os.path.isdir(gen_abs):
            return out
        for d in os.listdir(gen_abs):
            if not d.startswith("_label="):
                continue
            leaf = os.path.join(gen_abs, d)
            rows = 0
            for fn in os.listdir(leaf):
                if fn.endswith(".parquet"):
                    rows += pq.ParquetFile(os.path.join(leaf, fn)).metadata.num_rows
            # dir name on disk is partition-escaped
            out[unquote(d[7:])] = {"path": os.path.join(gen_rel, d), "rows": rows}
        return out

    def _publish(
        self,
        node_slices: dict | None,
        edge_slices: dict | None,
        touched_node_labels: Iterable[str] | None,
        touched_rel_labels: Iterable[str] | None,
        version: int,
        stage: str,
        update_tag: int,
        metrics: Mapping[str, object] | None,
    ) -> int:
        """Assemble + atomically publish manifest v{version}.

        ``touched_*`` of None means full replace for that table (the new
        slices are the whole table); otherwise parent pointers carry forward
        for untouched labels and touched labels absent from the new slices
        (fully deleted) drop out.
        """
        prev = self._current_version()
        parent = self._manifest(prev)

        def _assemble(new_slices, touched, table):
            if touched is None:
                return dict(new_slices or {})
            out = {
                k: v
                for k, v in parent.get(table, {}).items()
                if k not in set(touched)
            }
            out.update(new_slices or {})
            return out

        nodes_man = _assemble(node_slices, touched_node_labels, "nodes")
        edges_man = _assemble(edge_slices, touched_rel_labels, "edges")

        stages = dict(parent.get("stages", {}))
        # ``stage`` may be a list: a grouped flush records EVERY member
        # stage's checkpoint under the one commit (resume skips them all).
        for s in [stage] if isinstance(stage, str) else list(stage):
            stages[s] = {
                "update_tag": int(update_tag),
                "version": version,
                "labels": sorted((node_slices or {}).keys()),
                "rels": sorted((edge_slices or {}).keys()),
            }
        meta = {
            "version": version,
            "parent": prev,
            "stage": stage if isinstance(stage, str) else ",".join(stage),
            "update_tag": int(update_tag),
            "committed_at": time.time(),
            "nodes": nodes_man,
            "edges": edges_man,
            "metrics": {
                "node_rows": sum(e["rows"] for e in nodes_man.values()),
                "edge_rows": sum(e["rows"] for e in edges_man.values()),
                "labels_written": len(node_slices or {}),
                "rels_written": len(edge_slices or {}),
                **(dict(metrics) if metrics else {}),
            },
            "stages": stages,
        }
        tmp = os.path.join(self.root, "_meta", f"v{version}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=2)
        os.replace(tmp, os.path.join(self.root, "_meta", f"v{version}.json"))

        cur_tmp = os.path.join(self.root, "_CURRENT.tmp")
        with open(cur_tmp, "w") as f:
            f.write(str(version))
        os.replace(cur_tmp, os.path.join(self.root, "_CURRENT"))

        self._gc(keep=(version, prev))
        return version

    def _gc(self, keep: tuple[int, int]) -> None:
        """Remove label slices no manifest in ``keep`` references (the parent
        stays live for time-travel/drift diffing, as an Iceberg catalog would
        until snapshot expiry)."""
        referenced = set()
        for v in keep:
            man = self._manifest(v)
            for table in ("nodes", "edges"):
                for e in man.get(table, {}).values():
                    referenced.add(os.path.normpath(e["path"]))
        data = os.path.join(self.root, "data")
        if not os.path.isdir(data):
            return
        for gen in os.listdir(data):
            gen_dir = os.path.join(data, gen)
            live = False
            for sub in ("nodes", "edges"):
                sub_dir = os.path.join(gen_dir, sub)
                if not os.path.isdir(sub_dir):
                    continue
                for leaf in os.listdir(sub_dir):
                    if not leaf.startswith("_label="):
                        continue
                    rel = os.path.normpath(os.path.join("data", gen, sub, leaf))
                    if rel in referenced:
                        live = True
                    else:
                        shutil.rmtree(os.path.join(sub_dir, leaf), ignore_errors=True)
            if not live:
                shutil.rmtree(gen_dir, ignore_errors=True)

    def _next_version(self) -> int:
        v = self._current_version() + 1
        # a crash after writing g{v} but before publish leaves garbage; reclaim
        gen = os.path.join(self.root, "data", f"g{v}")
        if os.path.exists(gen):
            shutil.rmtree(gen, ignore_errors=True)
        return v

    def commit(
        self,
        nodes: DataFrame,
        edges: DataFrame,
        stage: str,
        update_tag: int,
        metrics: Mapping[str, object] | None = None,
    ) -> int:
        """Full-replace commit: the given frames become the whole graph.

        Used by the bulk builder and full-snapshot passes; incremental
        callers use :meth:`commit_partial` / :meth:`upsert` / :meth:`delete`.
        """
        v = self._next_version()
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as ex:
            fut_n = ex.submit(self._write_slices, nodes, "nodes", v, "label")
            fut_e = ex.submit(self._write_slices, edges, "edges", v, "rel_label")
            node_slices = fut_n.result()
            edge_slices = fut_e.result()
        return self._publish(
            node_slices, edge_slices, None, None, v, stage, update_tag, metrics
        )

    def commit_partial(
        self,
        nodes: DataFrame | None,
        edges: DataFrame | None,
        touched_node_labels: Iterable[str],
        touched_rel_labels: Iterable[str],
        stage: str,
        update_tag: int,
        metrics: Mapping[str, object] | None = None,
    ) -> int:
        """Replace only the given labels' slices; everything else carries
        forward by manifest pointer (the Iceberg-MERGE cost model: I/O is
        O(touched partitions), not O(table))."""
        v = self._next_version()
        if nodes is not None and edges is not None:
            # independent jobs: overlap the two slice writes (cf. upsert's
            # staging overlap) — the commit critical path becomes the larger
            # table's write instead of their sum
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=2) as ex:
                fut_n = ex.submit(self._write_slices, nodes, "nodes", v, "label")
                fut_e = ex.submit(self._write_slices, edges, "edges", v, "rel_label")
                node_slices = fut_n.result()
                edge_slices = fut_e.result()
        else:
            node_slices = (
                self._write_slices(nodes, "nodes", v, "label") if nodes is not None else {}
            )
            edge_slices = (
                self._write_slices(edges, "edges", v, "rel_label") if edges is not None else {}
            )
        return self._publish(
            node_slices,
            edge_slices,
            touched_node_labels,
            touched_rel_labels,
            v,
            stage,
            update_tag,
            metrics,
        )

    # ----- resumable stage checkpoints --------------------------------------

    def stage_done(self, stage: str, update_tag: int) -> bool:
        s = self.current_meta().get("stages", {}).get(stage)
        return bool(s and s.get("update_tag") == int(update_tag))

    def stages_for_tag(self, update_tag: int) -> dict[str, dict]:
        """Stage checkpoints recorded under this tag (labels/rels each stage
        wrote) — the cleanup scoper's source of truth."""
        return {
            k: v
            for k, v in self.current_meta().get("stages", {}).items()
            if v.get("update_tag") == int(update_tag)
        }

    # ----- MERGE semantics ---------------------------------------------------

    def _stage_batch(self, df: DataFrame, sub: str, schema, part_col: str):
        """Materialize the incoming batch to a staging dir, partitioned by
        label; returns (staged_df, touched_labels).

        This is the Iceberg write-path shape — batch data files land first,
        the MERGE works from files.  It truncates the batch's (possibly
        enormous) upstream logical plan: the merge joins and the final slice
        write re-analyze a leaf parquet scan instead of the whole module
        pipeline, which on a driver-latency-bound host is the difference
        between O(plan) and O(1) per downstream action.  Partitioning the
        staging write by label makes the touched-label set a directory
        listing — no distinct-collect job.  Staging files are reclaimed by
        _gc after publish.
        """
        path = os.path.join(self.root, "data", "_staging", sub)
        (
            df.withColumn("_label", F.col(part_col))
            .write.mode("overwrite")
            .partitionBy("_label")
            .parquet(path)
        )
        leaves = [d for d in os.listdir(path) if d.startswith("_label=")]
        labels = [unquote(d[7:]) for d in leaves]
        if not labels:
            return self.spark.createDataFrame([], schema), []
        # leaf-dir read (as _read): no partition discovery, explicit schema;
        # the label column is stored in the data files themselves.
        staged = self.spark.read.schema(schema).parquet(
            *[os.path.join(path, d) for d in leaves]
        )
        return staged.select(*[f.name for f in schema.fields]), labels

    def upsert(
        self,
        new_nodes: DataFrame | None,
        new_edges: DataFrame | None,
        stage: str,
        update_tag: int,
        metrics: Mapping[str, object] | None = None,
    ) -> int:
        """MERGE a batch into the live snapshot; rewrites only touched labels.

        firstseen discipline (reference querybuilder.py:376, ``ON CREATE SET
        i.firstseen = timestamp()``): matched rows keep their existing
        firstseen; new rows get the update tag.  Matched rows' props merge
        per-key (new keys win, unmentioned keys survive — MERGE SET parity).
        Implemented as one left join per table over ONLY the touched label
        slices — no collect of data, no per-row work.
        """
        if self._current_version() == 0:
            # MERGE into an empty table is INSERT ALL: no old rows to match,
            # so skip the staging write, the distinct-labels probes, and the
            # merge joins entirely — one pass: execute the batch plan straight
            # into the generation slices (touched labels fall out of the
            # written partition dirs).  Halves the write I/O of a cold bulk
            # load; identical rows to the merge path (firstseen resolves to
            # coalesce(NULL, tag) = tag for every row).
            v = self._next_version()
            node_slices = edge_slices = {}
            fs = F.coalesce(F.col("firstseen"), F.lit(int(update_tag)))
            nn = ne = None
            if new_nodes is not None:
                nn = new_nodes.withColumn("firstseen", fs).select(
                    *[f.name for f in NODES_SCHEMA.fields]
                )
            if new_edges is not None:
                ne = new_edges.withColumn("firstseen", fs).select(
                    *[f.name for f in EDGES_SCHEMA.fields]
                )
            if nn is not None and ne is not None:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=2) as ex:
                    fut_n = ex.submit(self._write_slices, nn, "nodes", v, "label")
                    fut_e = ex.submit(self._write_slices, ne, "edges", v, "rel_label")
                    node_slices = fut_n.result()
                    edge_slices = fut_e.result()
            elif nn is not None:
                node_slices = self._write_slices(nn, "nodes", v, "label")
            elif ne is not None:
                edge_slices = self._write_slices(ne, "edges", v, "rel_label")
            return self._publish(
                node_slices,
                edge_slices,
                sorted(node_slices),
                sorted(edge_slices),
                v,
                stage,
                update_tag,
                metrics,
            )

        touched_labels: list[str] = []
        touched_rels: list[str] = []
        nodes_out = edges_out = None

        # The two staging writes are independent Spark jobs: overlap them so
        # the commit pays max(nodes, edges) staging latency, not the sum
        # (the round-4 profile showed the serial write+read inside commit as
        # a top T2 cost).  Merge-plan construction is driver-only and cheap;
        # only the staging ACTIONS run in the pool.
        if new_nodes is not None and new_edges is not None:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=2) as ex:
                fut_n = ex.submit(
                    self._stage_batch, new_nodes, "nodes", NODES_SCHEMA, "label"
                )
                fut_e = ex.submit(
                    self._stage_batch, new_edges, "edges", EDGES_SCHEMA, "rel_label"
                )
                new_nodes, touched_labels = fut_n.result()
                new_edges, touched_rels = fut_e.result()
        elif new_nodes is not None:
            new_nodes, touched_labels = self._stage_batch(
                new_nodes, "nodes", NODES_SCHEMA, "label"
            )
        elif new_edges is not None:
            new_edges, touched_rels = self._stage_batch(
                new_edges, "edges", EDGES_SCHEMA, "rel_label"
            )

        if new_nodes is not None:
            nodes_out = self.merge_nodes(
                self.nodes(labels=touched_labels), new_nodes, update_tag,
                old_rows=self.committed_rows("nodes", touched_labels),
            )
        if new_edges is not None:
            edges_out = self.merge_edges(
                self.edges(rel_labels=touched_rels), new_edges, update_tag,
                old_rows=self.committed_rows("edges", touched_rels),
            )

        return self.commit_partial(
            nodes_out, edges_out, touched_labels, touched_rels, stage, update_tag, metrics
        )

    # Committed-side row count (manifest stats, no Spark job) above which the
    # MERGE plans switch to the semi-join shape that never shuffles the
    # committed table.  Below it the direct shape wins: the semi shape
    # references the (possibly expensive, unexecuted) batch plan a third
    # time, which costs more than shuffling a small committed slice —
    # measured 3x worse on the sf0.01 T2 sync, where every committed slice
    # is tiny.  Above it the trade inverts: one extra pass over a bounded
    # batch plan buys never sorting/shuffling a 10^12-row table.
    SEMI_MERGE_MIN_ROWS = 5_000_000

    def merge_nodes(
        self,
        old: DataFrame,
        new: DataFrame,
        update_tag: int,
        old_rows: int | None = None,
    ) -> DataFrame:
        """Pure MERGE plan over two node frames: matched rows keep existing
        firstseen and merge props per-key; unmatched old rows pass through.
        Shared by the commit path (over staged files) and the buffered sync
        store's read views (over unexecuted batch plans).

        Join shape is adaptive on ``old_rows`` (the committed side's manifest
        row count — exact, driver-side, no job):

        * small committed side (default): batch LEFT JOIN committed-keys +
          committed ANTI batch-keys — two executions of the batch plan, one
          sort-merge of the small committed slice.  The right trade when the
          slices fit in a few shuffle partitions.
        * big committed side (>= SEMI_MERGE_MIN_ROWS): the committed side is
          first restricted to keys the batch touches (LEFT SEMI on the batch
          key set), so the merge join pairs the batch with a <=|batch| slice
          instead of the whole table.  Every join is then broadcast-eligible
          (AQE picks it from runtime sizes) and the 10^12-row committed
          table is only STREAMED (two map-side passes), never shuffled or
          sorted — the shape that survives a 100x scale-up.  The direct
          shape cannot get there: a left join's build side must be the
          non-preserved side, which pins the big table to the unbuildable
          side and forces a full sort-merge shuffle per read view.
        """
        if old_rows is not None and old_rows >= self.SEMI_MERGE_MIN_ROWS:
            new_keys = new.select("label", "id")
            old_side = old.join(new_keys, ["label", "id"], "left_semi")
        else:
            old_side = old
        old_keys = old_side.select(
            F.col("label").alias("_l"),
            F.col("id").alias("_i"),
            F.col("firstseen").alias("_fs"),
            F.col("props").alias("_op"),
        )
        merged_new = (
            new.join(
                old_keys,
                (new["label"] == old_keys["_l"]) & (new["id"] == old_keys["_i"]),
                "left",
            )
            .withColumn("firstseen", F.coalesce(F.col("_fs"), F.lit(int(update_tag))))
            .withColumn("props", _merge_props(F.col("_op"), new["props"]))
            .drop("_l", "_i", "_fs", "_op")
            .select(*[f.name for f in NODES_SCHEMA.fields])
        )
        untouched = old.join(new.select("label", "id"), ["label", "id"], "left_anti")
        return untouched.unionByName(merged_new)

    def merge_edges(
        self,
        old: DataFrame,
        new: DataFrame,
        update_tag: int,
        old_rows: int | None = None,
    ) -> DataFrame:
        """Pure MERGE plan over two edge frames (see :meth:`merge_nodes` for
        the adaptive join shape: direct under small committed slices,
        semi-restricted — committed side streamed, never shuffled — above
        SEMI_MERGE_MIN_ROWS)."""
        if old_rows is not None and old_rows >= self.SEMI_MERGE_MIN_ROWS:
            old_side = old.join(new.select(*EDGE_KEY), EDGE_KEY, "left_semi")
        else:
            old_side = old
        old_e = old_side.select(
            *[F.col(k).alias(f"_{k}") for k in EDGE_KEY],
            F.col("firstseen").alias("_fs"),
            F.col("props").alias("_op"),
        )
        cond = (
            (new["src_id"] == old_e["_src_id"])
            & (new["rel_label"] == old_e["_rel_label"])
            & (new["dst_id"] == old_e["_dst_id"])
        )
        merged_new = (
            new.join(old_e, cond, "left")
            .withColumn("firstseen", F.coalesce(F.col("_fs"), F.lit(int(update_tag))))
            .withColumn("props", _merge_props(F.col("_op"), new["props"]))
            .drop("_src_id", "_rel_label", "_dst_id", "_fs", "_op")
            .select(*[f.name for f in EDGES_SCHEMA.fields])
        )
        untouched = old.join(new.select(*EDGE_KEY), EDGE_KEY, "left_anti")
        return untouched.unionByName(merged_new)

    def delete(
        self,
        stale_nodes: DataFrame | None,
        stale_edges: DataFrame | None,
        stage: str,
        update_tag: int,
    ) -> int:
        """Set-based delete: anti-join out stale rows, DETACH-cascading edges.

        The reference deletes in LIMIT-batched loops purely for transaction
        sizing (graph/statement.py:112-128); a snapshot commit needs no
        batching.  DETACH semantics: deleting a node also removes every
        incident edge — done in the same commit so no snapshot ever holds a
        dangling edge.  Only labels that actually lose rows are rewritten;
        finding which rel slices hold incident edges costs one column-pruned
        scan (src_id, dst_id, rel_label) — reads, never writes, the
        untouched slices.
        """
        touched_labels: list[str] = []
        touched_rels: set[str] = set()
        nodes_out = edges_out = None
        cached = []

        sid = None
        if stale_nodes is not None:
            sn = stale_nodes.select("label", "id").distinct().cache()
            cached.append(sn)
            touched_labels = [r[0] for r in sn.select("label").distinct().collect()]
            nodes_out = self.nodes(labels=touched_labels).join(
                sn, ["label", "id"], "left_anti"
            )
            sid = sn.select("id").distinct().cache()
            cached.append(sid)
            # Broadcast the stale-id set ONLY when it is actually small
            # (incremental staleness: thousands of ids).  A mass offboarding
            # (a tenant's 10^8 nodes leaving at once) would otherwise ship
            # gigabytes to every executor — above the threshold the hint is
            # dropped and AQE picks the strategy (shuffled hash join /
            # its own broadcast if the post-cache stats allow).  The count
            # is one cheap job over the already-cached distinct set.
            if sid.count() <= self.BROADCAST_DELETE_MAX_IDS:
                sid_hint = F.broadcast
            else:
                sid_hint = lambda df: df  # noqa: E731 — identity, AQE decides
            incident = (
                self.edges()
                .select("src_id", "dst_id", "rel_label")
                .join(sid_hint(sid.withColumnRenamed("id", "src_id")), ["src_id"], "left_semi")
                .select("rel_label")
                .unionByName(
                    self.edges()
                    .select("src_id", "dst_id", "rel_label")
                    .join(
                        sid_hint(sid.withColumnRenamed("id", "dst_id")),
                        ["dst_id"],
                        "left_semi",
                    )
                    .select("rel_label")
                )
                .distinct()
                .collect()
            )
            touched_rels.update(r[0] for r in incident)

        if stale_edges is not None:
            se = stale_edges.select(*EDGE_KEY).distinct().cache()
            cached.append(se)
            touched_rels.update(r[0] for r in se.select("rel_label").distinct().collect())

        if touched_rels:
            edges_out = self.edges(rel_labels=sorted(touched_rels))
            if sid is not None:
                edges_out = edges_out.join(
                    sid_hint(sid.withColumnRenamed("id", "src_id")), ["src_id"], "left_anti"
                ).join(
                    sid_hint(sid.withColumnRenamed("id", "dst_id")), ["dst_id"], "left_anti"
                )
            if stale_edges is not None:
                edges_out = edges_out.join(se, EDGE_KEY, "left_anti")

        try:
            return self.commit_partial(
                nodes_out,
                edges_out,
                touched_labels,
                sorted(touched_rels),
                stage,
                update_tag,
            )
        finally:
            for df in cached:
                df.unpersist()


# ---------------------------------------------------------------------------
# Write-behind commit grouping
# ---------------------------------------------------------------------------

_EMPTY_MAP = "CAST(map() AS MAP<STRING,STRING>)"
# Sequential-MERGE fold over one (key)'s batch rows in stage order: each
# batch's props merge per-key over the accumulated map (later keys win, keys
# a later batch does not mention survive) — byte-identical to applying the
# batches as separate upsert commits.
_PROPS_FOLD = (
    "aggregate(_rs, " + _EMPTY_MAP + ", (acc, x) -> map_concat("
    "map_filter(acc, (k, v) -> NOT array_contains(map_keys(coalesce(x.props, "
    + _EMPTY_MAP + ")), k)), coalesce(x.props, " + _EMPTY_MAP + ")))"
)
_SEQ_CMP = "(l, r) -> CASE WHEN l._seq < r._seq THEN -1 WHEN l._seq > r._seq THEN 1 ELSE 0 END"


def _fold_batches(dfs, key_cols: list[str], last_cols: list[str], out_cols: list[str]) -> DataFrame:
    """Combine per-stage batches into one batch with sequential-upsert
    semantics: for a key written by several stages, props fold per-key in
    stage order and scalar columns take the LAST stage's value (the reference
    applies MERGE statements sequentially; this reproduces that composition
    in a single shuffle).  Each input batch is assumed key-unique, which the
    compilers guarantee (compile_nodes dedupes; edge builders dropDuplicates).
    """
    parts = [df.selectExpr("*", f"CAST({i} AS INT) AS _seq") for i, df in enumerate(dfs)]
    return _fold_stamped(parts, key_cols, last_cols, out_cols)


def _fold_stamped(parts, key_cols: list[str], last_cols: list[str], out_cols: list[str]) -> DataFrame:
    """:func:`_fold_batches` body over frames that already carry their
    sequential ``_seq`` stamp — lets the flush path group pre-stamped batch
    plans into chunk checkpoints without losing stage ordering."""
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    struct_cols = ", ".join(["_seq", "props"] + last_cols)
    g = (
        u.selectExpr(*key_cols, f"struct({struct_cols}) AS _row", "lastupdated")
        .groupBy(*key_cols)
        .agg(
            F.expr(f"array_sort(collect_list(_row), {_SEQ_CMP})").alias("_rs"),
            F.expr("max(lastupdated)").alias("lastupdated"),
        )
        .selectExpr(
            *key_cols,
            f"{_PROPS_FOLD} AS _mp",
            *[f"element_at(_rs, -1).{c} AS {c}" for c in last_cols],
            "lastupdated",
        )
        .selectExpr(
            *key_cols,
            f"IF(size(_mp) > 0, _mp, CAST(NULL AS MAP<STRING,STRING>)) AS props",
            *last_cols,
            "CAST(NULL AS BIGINT) AS firstseen",
            "lastupdated",
        )
    )
    return g.select(*out_cols)


class BufferedSyncStore:
    """Write-behind wrapper around :class:`GraphStore` for staged syncs.

    Module ``upsert`` calls accumulate in memory (as unexecuted DataFrame
    plans) and flush as ONE merged commit at explicit :meth:`flush`
    boundaries (the orchestrator flushes before the heavy documents stage,
    before cleanup, and at sync end) or whenever a stage performs an
    operation that must observe *committed* state (``delete``/``commit*``/
    time-travel reads).  This collapses the sync's long tail of small
    per-schema commits — each paying a fixed staging-write + merge +
    manifest cost — into a handful of group commits: O(flush boundaries),
    not O(stages), snapshot commits per run, the same reason an Iceberg
    writer batches many table mutations into one snapshot.

    Reads stay exact WITHOUT flushing: :meth:`nodes`/:meth:`edges` return a
    lazy MERGE view of (committed slices x folded buffered batches) built by
    the same ``merge_nodes``/``merge_edges`` plans the commit path uses, so
    a stage that joins against "existing" nodes (trust stubs, SAML, edge
    target matching) sees byte-identical rows to the sequential-commit path.
    Read views are LABEL-PRUNED (see :meth:`_pending_view`): a read for
    labels L folds only the buffered batches whose statically-declared label
    sets (:class:`~cartography_spark.core.loader.LabeledFrame`) intersect L,
    which keeps a ~50-stage sync linear in stage count instead of quadratic.

    Semantics preserved exactly:
      * Intra-group batches touching the same key compose via
        :func:`_fold_batches` — identical rows to sequential upserts.
      * Every member stage is checkpointed in the flush's manifest, so a
        resumed run skips each of them individually; a crash before the
        flush re-runs the whole group (upsert is a MERGE — idempotent).
    """

    _NO_FLUSH = {
        "spark",
        "root",
        "write_partitions",
        "stage_done",
        "_manifest",
        # manifest-only reads: label_rowcount / committed_rows are sizing
        # HINTS (callers tolerate staleness wrt buffered batches), so they
        # must not force a flush from inside a grouped stage
        "label_rowcount",
        "committed_rows",
    }

    def __init__(self, store: GraphStore):
        self._store = store
        # per table: ordered buffered batches, each {df, labels, ckpt}.
        # ``labels`` is the batch's statically known node-label / rel-label
        # set (compilers stamp it via LabeledFrame; None = unknown, i.e. the
        # batch must be assumed to contain any label).  ``ckpt`` is a lazy
        # localCheckpoint, executed at most once — at the first read view
        # that needs this batch — so a batch plan never re-executes per read.
        self._pend: dict[str, list[dict]] = {"nodes": [], "edges": []}
        self._stages: list[str] = []
        self._tag: int | None = None
        # merged-view memo keyed by (table, requested labels): repeated reads
        # of the same slice set (every module targets AWSAccount, for one)
        # reuse one DataFrame instead of rebuilding the merge plan per call.
        # Invalidated on any buffer or store mutation.
        self._view_cache: dict[tuple, object] = {}

    # -- buffered write -----------------------------------------------------

    def upsert(self, new_nodes, new_edges, stage, update_tag, metrics=None):
        if self._tag is not None and int(update_tag) != self._tag:
            self.flush()
        self._tag = int(update_tag)
        for sub, df in (("nodes", new_nodes), ("edges", new_edges)):
            if df is not None:
                labels = getattr(df, "cartography_labels", None)
                self._pend[sub].append({"df": df, "labels": labels, "ckpt": None})
                # drop only the cached views this batch can affect: full-table
                # views always, label-scoped views when the label sets meet
                # (an unlabeled batch can affect anything)
                for key in list(self._view_cache):
                    k_sub, k_labels = key
                    if k_sub == sub and (
                        k_labels is None or labels is None or (labels & set(k_labels))
                    ):
                        del self._view_cache[key]
        self._stages.append(stage)
        return self._store._current_version()

    # -- pending-buffer views -------------------------------------------------

    @staticmethod
    def _fold(sub: str, dfs: list):
        if len(dfs) == 1:
            return dfs[0]
        if sub == "nodes":
            return _fold_batches(
                dfs, ["label", "id"], ["extra_labels"],
                [f.name for f in NODES_SCHEMA.fields],
            )
        return _fold_batches(
            dfs, EDGE_KEY, ["src_label", "dst_label"],
            [f.name for f in EDGES_SCHEMA.fields],
        )

    def _pending_view(self, sub: str, labels):
        """Fold of the buffered batches that can contain ``labels``.

        MERGE keys include the label ((label, id) for nodes, (src_id,
        rel_label, dst_id) for edges), so batches whose static label sets
        miss the requested labels can never contribute a key — the fold over
        the pruned, label-filtered subset is row-identical to folding the
        whole buffer and filtering after.  This is what keeps a staged sync
        linear in module count: each of the ~80 per-module reads folds the
        one or two small batches carrying its target label, not the whole
        accumulated write-behind buffer (which made the sync quadratic).

        Batches are localCheckpointed on first use: module batch plans embed
        earlier read views, so without a lineage cut plans would nest
        combinatorially; the cut also means each batch executes exactly once.
        (At cluster scale the cut would be a write to the staging dir —
        reliable storage instead of executor memory.)
        """
        want = None if labels is None else set(labels)
        entries = [
            e
            for e in self._pend[sub]
            if want is None or e["labels"] is None or (e["labels"] & want)
        ]
        if not entries:
            return None
        self._materialize(entries)
        dfs = [e["ckpt"] for e in entries]
        if want is not None:
            col = "label" if sub == "nodes" else "rel_label"
            dfs = [d.where(F.col(col).isin(list(want))) for d in dfs]
        return self._fold(sub, dfs)

    @staticmethod
    def _materialize(entries: list) -> None:
        """localCheckpoint every still-raw entry, concurrently when there are
        several — each is an independent job (embedded read views reference
        only already-checkpointed frames), so overlapping them hides per-job
        driver latency."""
        raw = [e for e in entries if e["ckpt"] is None]
        if not raw:
            return
        if len(raw) == 1:
            raw[0]["ckpt"] = raw[0]["df"].localCheckpoint(eager=True)
            return
        from concurrent.futures import ThreadPoolExecutor

        def _ckpt(e):
            e["ckpt"] = e["df"].localCheckpoint(eager=True)

        with ThreadPoolExecutor(max_workers=min(16, len(raw))) as ex:
            list(ex.map(_ckpt, raw))

    # Never-read batches are materialized at flush in UNION CHUNKS of this
    # many plans per checkpoint job: per-batch jobs pay ~0.3-0.7s of fixed
    # scheduling latency each (~125 never-read batches in a full sync), while
    # ONE giant fold action serializes through AQE stage-at-a-time (the
    # measured round-3 failure mode).  Chunks bound both: ~16 moderate jobs,
    # thread-pooled.
    FLUSH_CHUNK = 8

    def flush(self) -> None:
        self._view_cache.clear()
        if not self._stages:
            return
        tables = {}
        folds: dict[str, object] = {}
        for sub in ("nodes", "edges"):
            entries = self._pend[sub]
            if not entries:
                tables[sub] = None
                continue
            if len(entries) == 1:
                e = entries[0]
                tables[sub] = e["ckpt"] if e["ckpt"] is not None else e["df"]
                continue
            # stamp every batch with its stage sequence BEFORE grouping so
            # chunked unions keep sequential-upsert conflict order
            stamped_ready, raw_run = [], []
            for i, e in enumerate(entries):
                df = e["ckpt"] if e["ckpt"] is not None else e["df"]
                sdf = df.selectExpr("*", f"CAST({i} AS INT) AS _seq")
                if e["ckpt"] is not None:
                    stamped_ready.append(sdf)
                else:
                    raw_run.append(sdf)
            chunks = [
                raw_run[i : i + self.FLUSH_CHUNK]
                for i in range(0, len(raw_run), self.FLUSH_CHUNK)
            ]
            folds[sub] = (stamped_ready, chunks)

        # checkpoint all chunks of both tables concurrently (each chunk is a
        # union of <=FLUSH_CHUNK already-independent batch plans — one job).
        # Results are keyed by (sub, chunk index) so reassembly below cannot
        # depend on any iteration-order coincidence between two passes.
        keyed_chunks = [
            ((sub, i), c)
            for sub, (_, chunks) in folds.items()
            for i, c in enumerate(chunks)
        ]
        ckpts: dict[tuple, object] = {}
        if keyed_chunks:
            def _union_ckpt(item):
                key, chunk = item
                u = chunk[0]
                for p in chunk[1:]:
                    u = u.unionByName(p)
                return key, u.localCheckpoint(eager=True)

            if len(keyed_chunks) == 1:
                k, out = _union_ckpt(keyed_chunks[0])
                ckpts[k] = out
            else:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=min(16, len(keyed_chunks))) as ex:
                    for k, out in ex.map(_union_ckpt, keyed_chunks):
                        ckpts[k] = out

        for sub, (stamped_ready, chunks) in folds.items():
            parts = list(stamped_ready)
            for i in range(len(chunks)):
                parts.append(ckpts[(sub, i)])
            if sub == "nodes":
                tables[sub] = _fold_stamped(
                    parts, ["label", "id"], ["extra_labels"],
                    [f.name for f in NODES_SCHEMA.fields],
                )
            else:
                tables[sub] = _fold_stamped(
                    parts, EDGE_KEY, ["src_label", "dst_label"],
                    [f.name for f in EDGES_SCHEMA.fields],
                )
        stages, tag = self._stages, self._tag
        self._pend = {"nodes": [], "edges": []}
        self._stages, self._tag = [], None
        self._store.upsert(tables["nodes"], tables["edges"], stages, tag)

    # -- merged read views ----------------------------------------------------

    def _no_committed_slices(self, sub: str, labels) -> bool:
        """True when the committed store holds NO slice for the requested
        labels (manifest lookup — no Spark work).  During a T1 sync every
        module-phase read happens before the first flush, so this is the
        COMMON case: the merge view over (empty committed x pending) can
        skip both merge joins entirely."""
        man = self._store._manifest(self._store._current_version())
        committed = man.get(sub, {})
        if not committed:
            return True
        if labels is None:
            return False
        return not any(lbl in committed for lbl in labels)

    @staticmethod
    def _resolve_pending(pending, tag):
        """What merge_nodes/merge_edges produce when the committed side is
        empty, without the joins: every pending row is a MERGE miss, so
        firstseen resolves to the tag and props get the empty-map->NULL
        normalization of _merge_props(NULL, props)."""
        return pending.withColumn(
            "firstseen", F.coalesce(F.col("firstseen"), F.lit(int(tag)))
        ).withColumn(
            "props",
            _merge_props(F.lit(None).cast("map<string,string>"), F.col("props")),
        )

    def nodes(self, version=None, labels=None):
        if version is not None:
            return self._store.nodes(version, labels)
        key = ("nodes", None if labels is None else tuple(sorted(labels)))
        if key in self._view_cache:
            return self._view_cache[key]
        pending = self._pending_view("nodes", labels)
        if pending is None:
            view = self._store.nodes(labels=labels)
        elif self._no_committed_slices("nodes", labels):
            view = self._resolve_pending(pending, self._tag)
        else:
            view = self._store.merge_nodes(
                self._store.nodes(labels=labels), pending, self._tag,
                old_rows=self._store.committed_rows("nodes", labels),
            )
        self._view_cache[key] = view
        return view

    def edges(self, version=None, rel_labels=None):
        if version is not None:
            return self._store.edges(version, rel_labels)
        key = ("edges", None if rel_labels is None else tuple(sorted(rel_labels)))
        if key in self._view_cache:
            return self._view_cache[key]
        pending = self._pending_view("edges", rel_labels)
        if pending is None:
            view = self._store.edges(rel_labels=rel_labels)
        elif self._no_committed_slices("edges", rel_labels):
            view = self._resolve_pending(pending, self._tag)
        else:
            view = self._store.merge_edges(
                self._store.edges(rel_labels=rel_labels), pending, self._tag,
                old_rows=self._store.committed_rows("edges", rel_labels),
            )
        self._view_cache[key] = view
        return view

    # -- flush-through everything else ----------------------------------------

    def __getattr__(self, name):
        target = getattr(self._store, name)
        if name in self._NO_FLUSH or not callable(target):
            return target

        def flushing(*args, **kwargs):
            self.flush()
            try:
                return target(*args, **kwargs)
            finally:
                # the wrapped call may publish a new snapshot (delete /
                # commit_partial): committed-only cached views would go stale
                self._view_cache.clear()

        return flushing
