"""TAGGED edges from resource-tag mappings.

Parity: cartography/intel/aws/resourcegroupstaggingapi.py — the reference
double-UNWINDs nested tag arrays (:151-168), maps each resource type to a
(label, match-property) pair (:66-116), and MERGEs
(resource)-[:TAGGED]->(:AWSTag{id: key+":"+value}).  Here the double UNWIND
is one ``explode`` and the per-type match is an equi-join against the node
table on id (we tag by full ARN; short-id extraction for ec2/s3 types is a
``regexp_extract`` in functions/arn.py, not per-row Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cartography_spark.core.loader import LabeledFrame, edge_rows, node_rows
from cartography_spark.core.store import GraphStore

TYPE_TO_LABEL = {
    "emr": "EMRCluster",
    "s3": "S3Bucket",
    "iam:user": "AWSUser",
}


def tag_family(
    tag_mappings: DataFrame, resources: DataFrame, update_tag: int
) -> tuple[DataFrame, DataFrame]:
    """(nodes, edges) of the resource-tag mappings, not deduplicated: one
    AWSTag node per exploded tag and (resource)-[:TAGGED]->(AWSTag) for the
    ``resources`` (res_id, node_label) the mappings name.

    Only resources that exist get edges (the reference's MATCH-by-(label,
    property) does the same by construction): the join matches the ARN and
    the label ``TYPE_TO_LABEL`` maps the mapping's resource_type to.
    """
    label_map = F.create_map(*[F.lit(x) for kv in TYPE_TO_LABEL.items() for x in kv])
    exploded = tag_mappings.select(
        "ResourceARN",
        F.element_at(label_map, F.col("resource_type")).alias("res_label"),
        F.explode("Tags").alias("t"),
    ).select(
        "ResourceARN",
        "res_label",
        F.col("t.Key").alias("key"),
        F.col("t.Value").alias("value"),
        F.concat(F.col("t.Key"), F.lit(":"), F.col("t.Value")).alias("tag_id"),
    )
    nodes = node_rows(
        exploded, "tag_id", "'AWSTag'", update_tag,
        props="map_from_arrays(array('key', 'value'), array(key, value))",
    )
    tagged = exploded.join(
        resources,
        (exploded["ResourceARN"] == resources["res_id"])
        & (exploded["res_label"] == resources["node_label"]),
        "inner",
    )
    edges = edge_rows(tagged, "res_id", "node_label", "'TAGGED'", "tag_id", "'AWSTag'", update_tag)
    return nodes, edges


def sync_tags(store: GraphStore, tag_mappings: DataFrame, update_tag: int) -> None:
    stage = "aws:tags"
    if store.stage_done(stage, update_tag):
        return
    # the join's equality on the mapped label means only the mapped labels
    # can ever match, so the read prunes to exactly those slices
    resources = store.nodes(labels=sorted(set(TYPE_TO_LABEL.values()))).select(
        F.col("id").alias("res_id"), F.col("label").alias("node_label")
    )
    nodes, edges = tag_family(tag_mappings, resources, update_tag)
    store.upsert(
        LabeledFrame(nodes.dropDuplicates(["label", "id"]), ["AWSTag"]),
        LabeledFrame(edges.dropDuplicates(["src_id", "rel_label", "dst_id"]), ["TAGGED"]),
        stage,
        update_tag,
    )
