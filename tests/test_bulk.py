"""Guards for the bulk builder: its dedupe=False contract (r6) and its
parity with the staged sync.

build_graph compiles its node families with ``dedupe=False`` — valid only
while every family id stays an injective formula over a distinct source key.
If a fixture change ever breaks that, these tests fail before the store's
MERGE semantics silently change.
"""

import shutil
import tempfile

from pyspark.sql import functions as F

from tests.conftest import SF_DIR

T1 = 123456789


def _families(spark):
    """(schema, source frame) of every family build_graph compiles with
    ``dedupe=False``."""
    from cartography_spark.kg.bulk import S3_SCHEMA
    from cartography_spark.modules import aws_iam, okta
    from cartography_spark.modules.aws_base import ACCOUNT_SCHEMA
    from cartography_spark.modules.aws_emr import EMR_CLUSTER_SCHEMA
    from cartography_spark.sources import fixtures as fx

    return [
        (ACCOUNT_SCHEMA, fx.aws_accounts(spark, SF_DIR)),
        (aws_iam.USER_SCHEMA, fx.iam_users(spark, SF_DIR)),
        (aws_iam.GROUP_SCHEMA, fx.iam_groups(spark, SF_DIR)),
        (aws_iam.ROLE_SCHEMA, fx.iam_roles(spark, SF_DIR)),
        (EMR_CLUSTER_SCHEMA, fx.emr_clusters(spark, SF_DIR)),
        (S3_SCHEMA, fx.s3_buckets(spark, SF_DIR)),
        (aws_iam.POLICY_SCHEMA, fx.iam_policies(spark, SF_DIR)),
        (aws_iam.STATEMENT_SCHEMA, fx.iam_policy_statements(spark, SF_DIR)),
        (okta.ORG_SCHEMA, fx.okta_orgs(spark, SF_DIR)),
        (okta.GROUP_SCHEMA, fx.okta_groups(spark, SF_DIR)),
        (okta.USER_SCHEMA, fx.okta_users(spark, SF_DIR)),
    ]


def test_bulk_family_ids_unique(spark):
    bad = []
    for schema, df in _families(spark):
        idc = schema.id.source
        n = df.count()
        d = df.select(idc).distinct().count()
        if n != d:
            bad.append((schema.label, idc, n, d))
    assert not bad, f"bulk families with duplicate ids (dedupe=False unsafe): {bad}"


def test_build_graph_nodes_have_unique_keys(spark):
    from cartography_spark.kg.bulk import build_graph

    nodes, _ = build_graph(spark, SF_DIR, T1)
    total = nodes.count()
    distinct = nodes.select("label", "id").distinct().count()
    assert total == distinct


# Families only the staged stages load (S3 ACLs and the non-CAN_READ
# permission mappings); bulk does not build them.
STAGED_ONLY_LABELS = {"S3Acl"}
STAGED_ONLY_RELS = {"APPLIES_TO", "CAN_LIST", "CAN_SEND"}


def _node_rows(df, props=True):
    return {
        (
            r.label,
            r.id,
            tuple(sorted((r.props or {}).items())) if props else None,
            tuple(sorted(r.extra_labels or ())),
        )
        for r in df.where(~F.col("label").isin(*STAGED_ONLY_LABELS)).collect()
    }


def _edge_rows(df):
    return {
        (r.src_id, r.rel_label, r.dst_id, r.src_label, r.dst_label)
        for r in df.where(~F.col("rel_label").isin(*STAGED_ONLY_RELS)).collect()
    }


def test_bulk_matches_staged_sync(spark):
    """build_graph and the staged stages for the same families produce the
    same nodes and edges; the one deliberate divergence is S3Bucket props
    (bulk keeps a narrower property set, see kg/bulk.py)."""
    from cartography_spark.core.store import BufferedSyncStore, GraphStore
    from cartography_spark.kg.bulk import build_graph
    from cartography_spark.modules import aws_iam, aws_tags, okta, permissions
    from cartography_spark.modules.aws_base import sync_accounts
    from cartography_spark.modules.aws_emr import sync_emr
    from cartography_spark.modules.aws_s3 import sync_s3
    from cartography_spark.sources import fixtures as fx

    root = tempfile.mkdtemp(prefix="graphstore_")
    try:
        store = BufferedSyncStore(GraphStore(spark, root, write_partitions=2))
        roles = fx.iam_roles(spark, SF_DIR)
        policies = fx.iam_policies(spark, SF_DIR)
        statements = fx.iam_policy_statements(spark, SF_DIR)
        sync_accounts(store, fx.aws_accounts(spark, SF_DIR), T1)
        aws_iam.sync_principals(
            store, fx.iam_users(spark, SF_DIR), fx.iam_groups(spark, SF_DIR), roles, T1
        )
        aws_iam.sync_role_trusts(store, roles, T1)
        aws_iam.sync_policies(store, policies, statements, T1)
        aws_iam.sync_memberships(store, fx.iam_group_memberships(spark, SF_DIR), T1)
        sync_emr(store, fx.emr_clusters(spark, SF_DIR), T1)
        sync_s3(store, fx.s3_buckets(spark, SF_DIR), fx.s3_acls(spark, SF_DIR), T1)
        okta.sync_okta(
            store,
            fx.okta_orgs(spark, SF_DIR),
            fx.okta_groups(spark, SF_DIR),
            fx.okta_users(spark, SF_DIR),
            fx.okta_group_members(spark, SF_DIR),
            T1,
        )
        okta.sync_saml(store, T1)
        permissions.sync_permission_mappings(store, policies, statements, T1)
        permissions.sync_sts_assumerole(store, policies, statements, T1)
        aws_tags.sync_tags(store, fx.resource_tags(spark, SF_DIR), T1)
        store.flush()

        nodes, edges = build_graph(spark, SF_DIR, T1, with_documents=False)
        staged_nodes, bulk_nodes = store.nodes(), nodes
        s3 = F.col("label") == "S3Bucket"
        assert _node_rows(staged_nodes.where(~s3)) == _node_rows(bulk_nodes.where(~s3))
        assert _node_rows(staged_nodes.where(s3), props=False) == _node_rows(
            bulk_nodes.where(s3), props=False
        )
        assert _edge_rows(store.edges()) == _edge_rows(edges)
    finally:
        shutil.rmtree(root, ignore_errors=True)
