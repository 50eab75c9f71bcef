"""The benchmark's workloads.

Each workload is a closed loop with one client: a batch runs to completion
through the engine's public entry points, its output is checked, then the
next batch starts.  ``run`` is the timed part; ``check`` is not timed.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import time

from datagen import check_output_path

T1 = 111111111

# the dedup members of __spark_entry__.queries(), checked against oracle_sql()
DEDUP_QUERIES = ("dedup_minhash_lsh", "dedup_clusters", "dedup_ngram_jaccard", "dedup_embedding")


def snapshot_bytes(store) -> int:
    """Bytes on disk of the slices the live manifest references."""
    total = 0
    for table in ("nodes", "edges"):
        for entry in store.current_meta().get(table, {}).values():
            for base, _, files in os.walk(os.path.join(store.root, entry["path"])):
                total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def snapshot_digest(store) -> dict:
    """Row counts plus an order-insensitive content digest of the live
    snapshot: bit_xor of a 64-bit hash per row (map props hashed as their
    key-sorted entries)."""
    from pyspark.sql import functions as F

    def digest(df, cols):
        props = F.array_sort(F.map_entries("props"))
        row = df.select(
            F.xxhash64(*[F.col(c) for c in cols], props, "firstseen", "lastupdated").alias("h")
        )
        r = row.agg(F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)").alias("x")).collect()[0]
        return int(r["n"]), format(int(r["x"] or 0) & (2**64 - 1), "016x")

    n_nodes, h_nodes = digest(
        store.nodes().withColumn("extra_labels", F.array_sort("extra_labels")),
        ["label", "id", "extra_labels"],
    )
    n_edges, h_edges = digest(store.edges(), ["src_id", "src_label", "rel_label", "dst_id", "dst_label"])
    return {"nodes": n_nodes, "edges": n_edges, "digest": f"{h_nodes}:{h_edges}"}


class Workload:
    name: str
    tables: tuple[str, ...]

    def __init__(self, data_dir: str, source_dir: str, work_dir: str, cache_dir: str, reference: dict):
        self.data_dir, self.source_dir, self.reference = data_dir, source_dir, reference
        self.work_dir, self.cache_dir = work_dir, cache_dir
        # traced runs replace this with the tracer's span factory
        self.span = lambda layer: contextlib.nullcontext()

    def prepare(self, spark) -> None:
        pass

    def isolated_layers(self, spark) -> dict[str, float]:
        """Seconds per layer, each layer's output computed alone (traced
        runs only); empty where the workload has no such layer."""
        return {}


class GraphBuild(Workload):
    """Bulk initial load: ``kg.bulk.build_graph(with_documents=True)``
    committed by one ``GraphStore.upsert`` into an empty store.  Fixtures,
    schema compile, the permission theta-joins and the whole mention path
    run inside the commit.
    """

    name = "graph_build"
    tables = ("region", "nation", "customer", "supplier", "part", "documents")

    _n = 0

    def run(self, spark):
        from cartography_spark.core.store import GraphStore
        from cartography_spark.kg import bulk

        self._n += 1
        root = check_output_path(os.path.join(self.work_dir, f"store-{self._n}"), [self.data_dir])
        store = GraphStore(spark, root)
        nodes, edges = bulk.build_graph(spark, self.data_dir, T1, with_documents=True)
        store.upsert(nodes, edges, "bulk:t1", T1)
        return store

    def check(self, spark, store) -> tuple[bool, dict]:
        got = {**snapshot_digest(store), "store_bytes": snapshot_bytes(store)}
        shutil.rmtree(store.root, ignore_errors=True)
        ok = bool(self.reference) and all(got[k] == v for k, v in self.reference.items())
        return ok, got

    def isolated_layers(self, spark) -> dict[str, float]:
        """Each mention-path layer and the permission theta-joins written to
        the noop sink from checkpointed inputs (without this, laziness bills
        all of their execution to the T1 commit)."""
        from cartography_spark.kg import bulk, canonicalize, extract, link, materialize
        from cartography_spark.modules import permissions
        from cartography_spark.sources import docs_synth
        from cartography_spark.sources import fixtures as fx

        def timed(*dfs) -> float:
            t0 = time.time()
            for df in dfs:
                df.write.format("noop").mode("overwrite").save()
            return time.time() - t0

        d = self.data_dir
        docs = docs_synth.interleaved_documents(spark, d).localCheckpoint()
        spans = docs_synth.exploded_spans(docs).localCheckpoint()
        base, _ = bulk.build_graph(spark, d, T1, with_documents=False)
        nodes = base.unionByName(materialize.document_nodes(docs, T1)).localCheckpoint()
        mentions = extract.detect_mentions(spans).localCheckpoint()
        dims = link.identifier_dictionary(nodes).localCheckpoint()
        pol = fx.iam_policies(spark, d).localCheckpoint()
        stm = fx.iam_policy_statements(spark, d).localCheckpoint()
        buckets = fx.s3_buckets(spark, d).localCheckpoint()
        roles = fx.iam_roles(spark, d)
        trusts = roles.selectExpr("arn AS role_arn", "explode(trust_principals) AS p").selectExpr(
            "role_arn", "p.value AS trusted"
        ).localCheckpoint()
        principals = roles.selectExpr("arn AS principal_arn", "account_id AS acct").localCheckpoint()
        return {
            "kg.extract": timed(extract.detect_mentions(spans)),
            "kg.link": timed(link.identifier_dictionary(nodes), link.link_mentions(mentions, dims)),
            "kg.canonicalize": timed(canonicalize.canonical_mapping(nodes, assume_forest=True)),
            "kg.materialize": timed(materialize.mention_edges(docs, nodes, T1, assume_forest=True)),
            "modules.permissions": timed(
                permissions.evaluate_permissions(pol, stm, buckets, "s3:GetObject"),
                permissions.sts_assumerole_pairs(trusts, principals, pol, stm),
            ),
        }


class CorpusDedup(Workload):
    """The four dedup member queries over the corpus, results collected.

    Read-only and compute-bound: the md5 MinHash kernel, the n-gram Jaccard
    self-join, the cogrouped embedding kernel and the connected-components
    loop of ``dedup_clusters``.  Each batch's rows are checked against the
    query's DuckDB ``oracle_sql()`` mirror.
    """

    name = "corpus_dedup"
    tables = ("documents", "embeddings")

    def prepare(self, spark) -> None:
        import __spark_entry__ as entry
        from tools.oracle_check import normalize

        self.normalize = normalize
        oracles = entry.oracle_sql()
        # The oracle's answer depends on its SQL and on the rows, not on their
        # order or file split, so one DuckDB run per checkout serves every
        # seed; a changed query or input table gets a new key.
        key = hashlib.sha256()
        for q in DEDUP_QUERIES:
            key.update(oracles[q].encode())
        for t in self.tables:
            with open(os.path.join(self.source_dir, f"{t}.parquet"), "rb") as f:
                key.update(f.read())
        cache = os.path.join(self.cache_dir, f"dedup-oracle-{key.hexdigest()}.json")
        if os.path.exists(cache):
            with open(cache) as f:
                self.expected = json.load(f)
            return

        import duckdb

        con = duckdb.connect()
        try:
            for t in self.tables:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet/*.parquet')"
                )
            self.expected = {q: self._rows(con.execute(oracles[q]).df()) for q in DEDUP_QUERIES}
        finally:
            con.close()
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{cache}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(self.expected, f)
        os.replace(tmp, cache)

    def _rows(self, df) -> list[str]:
        """Order-insensitive rows, by the repo's oracle-gate rules."""
        return self.normalize(df.rename(columns=str.lower))

    def run(self, spark):
        import __spark_entry__ as entry

        queries = entry.queries()
        out = {}
        for q in DEDUP_QUERIES:
            # the query builders are lazy: the span covers the collect too
            with self.span("ops.dedup"):
                out[q] = [r.asDict() for r in queries[q](spark, self.data_dir).collect()]
        return out

    def check(self, spark, out) -> tuple[bool, dict]:
        import pandas as pd

        got: dict = {q: len(rows) for q, rows in out.items()}
        got["oracle_mismatch"] = [
            q for q in DEDUP_QUERIES if self._rows(pd.DataFrame.from_records(out[q])) != self.expected[q]
        ]
        ok = not got["oracle_mismatch"] and bool(self.reference) and all(
            got[k] == v for k, v in self.reference.items()
        )
        return ok, got


WORKLOADS = {w.name: w for w in (GraphBuild, CorpusDedup)}
