"""Bulk graph build: the whole sync's nodes+edges as two DataFrames, one
snapshot commit.

``pipeline.run_sync`` mirrors the reference's stage-by-stage commits (each
stage checkpointed, resumable).  At 10^12-doc scale the per-stage pattern is
what Iceberg MERGE INTO makes cheap (only changed files rewritten); on the
sandbox's plain-parquet store each commit rewrites the tables, so the bulk
path exists for (a) benchmarks measuring compute rather than commit count
and (b) cold-start initial loads, where one commit is the right shape
anyway.  Scope: the bulk builder covers the core AWS IAM/EMR/S3 + Okta +
documents family set (the benchmark slice); the staged ``run_sync`` is the
full provider surface.

Every family comes from the module that owns it: the modules' schemas and
their family builders (``trust_family``, ``policy_edges``, ``tag_family``,
``saml_edges``, ``permission_edges``, ``sts_edges``), the same ones the
staged ``sync_*`` stages call.  The builders read no store, so here they
run on fixture frames.  What is left in this file is bulk-specific: the
fixture reads, the anti-join that keeps known accounts out of the
synthesized foreign accounts, the S3 family, the documents path and the
deduplication one INSERT-ALL commit needs.

For the shared families both paths produce identical triples
(``tests/test_bulk.py::test_bulk_matches_staged_sync``) with one deliberate
divergence: bulk's ``S3_SCHEMA`` keeps only ``name``/``account_id`` of an
S3Bucket, where the staged ``aws_s3.S3_BUCKET_SCHEMA`` also carries the
encryption and versioning properties.  The benchmark's reference digest pins
bulk's narrower set; aligning it needs a new reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cartography_spark.core.loader import compile_edges, compile_nodes
from cartography_spark.core.model import NodeSchema, PropertyRef
from cartography_spark.modules.aws_base import ACCOUNT_SCHEMA, account_resource_rel
from cartography_spark.modules.aws_emr import EMR_CLUSTER_SCHEMA
from cartography_spark.modules.aws_iam import (
    GROUP_SCHEMA,
    MEMBERSHIP_SCHEMA,
    POLICY_SCHEMA,
    ROLE_SCHEMA,
    STATEMENT_SCHEMA,
    USER_SCHEMA,
    explode_trusts,
    policy_edges,
    trust_family,
)
from cartography_spark.modules.aws_tags import tag_family
from cartography_spark.modules.okta import (
    GROUP_SCHEMA as OKTA_GROUP_SCHEMA,
    MEMBER_SCHEMA as OKTA_MEMBER_SCHEMA,
    ORG_SCHEMA as OKTA_ORG_SCHEMA,
    USER_SCHEMA as OKTA_USER_SCHEMA,
    saml_edges,
)
from cartography_spark.modules.permissions import permission_edges, sts_edges
from cartography_spark.sources import fixtures as fx

S3_SCHEMA = NodeSchema(
    label="S3Bucket",
    id=PropertyRef("arn"),
    properties={"name": PropertyRef("name"), "account_id": PropertyRef("account_id")},
    sub_resource_rel=account_resource_rel(),
)


def build_graph(
    spark: SparkSession, sf_dir: str, update_tag: int, with_documents: bool = True
) -> tuple[DataFrame, DataFrame]:
    """(nodes, edges) for the full sync, computed without a store."""
    accounts = fx.aws_accounts(spark, sf_dir)
    users = fx.iam_users(spark, sf_dir)
    groups = fx.iam_groups(spark, sf_dir)
    roles = fx.iam_roles(spark, sf_dir)
    memberships = fx.iam_group_memberships(spark, sf_dir)
    clusters = fx.emr_clusters(spark, sf_dir)
    buckets = fx.s3_buckets(spark, sf_dir)
    policies = fx.iam_policies(spark, sf_dir)
    statements = fx.iam_policy_statements(spark, sf_dir)
    tags = fx.resource_tags(spark, sf_dir)
    o_orgs, o_groups = fx.okta_orgs(spark, sf_dir), fx.okta_groups(spark, sf_dir)
    o_users, o_members = fx.okta_users(spark, sf_dir), fx.okta_group_members(spark, sf_dir)

    tag = update_tag
    # compiled once, reused by both the node union and the edge-phase target
    # lookups below — each compile_nodes costs ~20 ms of driver py4j latency.
    # dedupe=False throughout: every bulk family id is an injective formula
    # over a distinct source key (custkey/suppkey/nationkey/regionkey PKs, or
    # an explicit .distinct() for groups/buckets), so the MERGE-collapse
    # window is a no-op — skipping it removes one exchange+sort per family
    # (11 total) from the node-union materialization (same contract as
    # fixture_nodes in kg/materialize.py; uniqueness asserted per family by
    # tests/test_bulk.py::test_bulk_family_ids_unique)
    acct_node_df = compile_nodes(accounts, ACCOUNT_SCHEMA, tag, {"inscope": "true"}, dedupe=False)
    group_node_df = compile_nodes(groups, GROUP_SCHEMA, tag, dedupe=False)
    okta_org_node_df = compile_nodes(o_orgs, OKTA_ORG_SCHEMA, tag, dedupe=False)
    okta_group_node_df = compile_nodes(o_groups, OKTA_GROUP_SCHEMA, tag, dedupe=False)

    # Fixture roles trust only :root and service principals, never an IAM
    # user/group/role, so every trusted ARN resolves to a stub (the staged
    # stage resolves against the live principal nodes instead).
    trusts = explode_trusts(roles)
    trust_nodes, trust_edges = trust_family(
        trusts.withColumn("dst_label", F.lit("AWSPrincipal")), tag
    )
    tag_nodes, tag_edges = tag_family(
        tags, clusters.selectExpr("ClusterArn AS res_id", "'EMRCluster' AS node_label"), tag
    )

    node_parts = [
        acct_node_df,
        compile_nodes(users, USER_SCHEMA, tag, dedupe=False),
        group_node_df,
        compile_nodes(roles.drop("trust_principals"), ROLE_SCHEMA, tag, dedupe=False),
        compile_nodes(clusters, EMR_CLUSTER_SCHEMA, tag, dedupe=False),
        compile_nodes(buckets, S3_SCHEMA, tag, dedupe=False),
        compile_nodes(policies, POLICY_SCHEMA, tag, dedupe=False),
        compile_nodes(statements, STATEMENT_SCHEMA, tag, dedupe=False),
        okta_org_node_df,
        okta_group_node_df,
        compile_nodes(o_users, OKTA_USER_SCHEMA, tag, dedupe=False),
        # the synthesized families repeat ids (one stub per trusting role,
        # one tag node per tagged resource) and one INSERT-ALL commit takes
        # each key once; a synthesized account that is also a synced
        # account is dropped here (the staged path relies on MERGE instead)
        trust_nodes.join(accounts.select("id"), ["id"], "left_anti").dropDuplicates(["id"]),
        tag_nodes.dropDuplicates(["id"]),
    ]
    nodes = node_parts[0]
    for p in node_parts[1:]:
        nodes = nodes.unionByName(p)
    # No consolidating repartition (r6): with dedupe=False the family
    # branches are scan-split-sized narrow projections (1-2 partitions each,
    # not a 32-partition window exchange per family), so the narrow union
    # stays at a few dozen partitions — the full-node-set shuffle that used
    # to consolidate it cost more than the task-count it saved (measured at
    # sf0.1: graph_commit 7.6 -> 5.5 s).  The synthesized branches end in
    # AQE-coalesced exchanges, and every consumer of the checkpoint re-keys
    # for itself (the store write repartitions on (label, id);
    # dictionary/canonicalization aggregate on their own keys).

    # ---- edges --------------------------------------------------------------
    principals = (
        users.selectExpr("arn AS p_id", "'AWSUser' AS p_label")
        .unionByName(groups.selectExpr("arn AS p_id", "'AWSGroup' AS p_label"))
        .unionByName(roles.selectExpr("arn AS p_id", "'AWSRole' AS p_label"))
    )
    edge_parts = [
        compile_edges(users, USER_SCHEMA, acct_node_df, tag),
        compile_edges(groups, GROUP_SCHEMA, acct_node_df, tag),
        compile_edges(roles.drop("trust_principals"), ROLE_SCHEMA, acct_node_df, tag),
        compile_edges(clusters, EMR_CLUSTER_SCHEMA, acct_node_df, tag),
        compile_edges(buckets, S3_SCHEMA, acct_node_df, tag),
        compile_edges(memberships, MEMBERSHIP_SCHEMA, group_node_df, tag),
        compile_edges(o_groups, OKTA_GROUP_SCHEMA, okta_org_node_df, tag),
        compile_edges(o_users, OKTA_USER_SCHEMA, okta_org_node_df, tag),
        compile_edges(o_members, OKTA_MEMBER_SCHEMA, okta_group_node_df, tag),
        trust_edges,
        policy_edges(policies, statements, principals, tag),
        tag_edges,
        saml_edges(
            o_groups.selectExpr("id AS group_id", "name AS gname"),
            roles.selectExpr("arn AS role_arn"),
            o_members,
            tag,
        ),
        permission_edges(
            policies, statements, buckets, "s3:GetObject", "S3Bucket", "CAN_READ", tag
        ),
        sts_edges(
            trusts.selectExpr("role_arn", "principal AS trusted"),
            roles.selectExpr("arn AS principal_arn", "account_id AS acct"),
            policies,
            statements,
            tag,
        ),
    ]
    edges = edge_parts[0]
    for p in edge_parts[1:]:
        edges = edges.unionByName(p)
    # no consolidating repartition here (r6): the terminal
    # dropDuplicates(src, rel, dst) below performs its own exchange on its
    # key — an earlier repartition on (rel_label, src_id) was a second full
    # shuffle of the edge set that the dedup exchange immediately re-keyed

    if with_documents:
        from cartography_spark.kg.materialize import document_nodes, mention_edges
        from cartography_spark.sources.docs_synth import interleaved_documents

        docs = interleaved_documents(spark, sf_dir)
        # mention_edges walks the node frame many times (dictionary,
        # canonicalization, label join) — materialize the union once.
        # localCheckpoint instead of cache(): same reuse, but the blocks are
        # freed by the ContextCleaner when the frame is GC'd (the r5 audit
        # flagged the unpersist-less cache as a long-lived-driver leak), and
        # every consumer re-analyzes a leaf RDD scan instead of the 13-branch
        # union plan (driver plan latency)
        nodes = nodes.unionByName(document_nodes(docs, tag)).localCheckpoint()
        # assume_forest: provable from fixture construction (disjoint
        # AWSUser/OktaUser id namespaces, one identity key per node) — skips
        # the runtime bridge-check job (canonical_mapping's contract)
        edges = edges.unionByName(mention_edges(docs, nodes, tag, assume_forest=True))

    return nodes, edges.dropDuplicates(["src_id", "rel_label", "dst_id"])
