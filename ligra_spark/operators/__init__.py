from ligra_spark.operators.buckets import (
    delta_stepping,
    kcore_bucketed,
    next_bucket,
)
from ligra_spark.operators.edge_map import (
    COMBINERS,
    edge_map,
    edge_map_count,
)
from ligra_spark.operators.vertex_ops import vertex_filter, vertex_map

__all__ = [
    "COMBINERS",
    "delta_stepping",
    "edge_map",
    "edge_map_count",
    "kcore_bucketed",
    "next_bucket",
    "vertex_filter",
    "vertex_map",
]
