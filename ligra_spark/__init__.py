"""ligra_spark — a from-scratch PySpark-native link-graph analytics engine.

Re-expresses the capabilities of the Ligra shared-memory graph framework
(reference: /root/reference, jshun/ligra) as idiomatic Spark DataFrame
plans: the CSR graph becomes co-partitioned ``edges``/``vertices``
DataFrames, ``edgeMap`` becomes a join + hash-aggregation with an
algebraic combiner, ``vertexMap``/``vertexFilter`` become columnar
``select``/``filter``, and the direction-optimizing scheduler
(ligra.h:233-283) becomes a driver-side planner choosing the broadcast
or the shuffle physical plan per iteration.

Nothing here is a port: no reference code is copied; semantics are
reproduced from the published PPoPP'13 model and verified against
pure-numpy oracles (see tests/).
"""

from ligra_spark.graph import Graph
from ligra_spark.hypergraph import Hypergraph
from ligra_spark.session import get_spark

__all__ = ["Graph", "Hypergraph", "get_spark"]
__version__ = "0.1.0"
