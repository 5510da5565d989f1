#!/usr/bin/env python
"""spark-submit smoke job: prove the engine deploys the way the
north_rule prescribes — ``spark-submit --py-files ligra_spark.zip`` —
with imports resolving from the shipped zip, not a repo checkout.

Build the zip and run (from anywhere):

    cd /root/repo && python -m zipfile -c /tmp/ligra_spark.zip ligra_spark
    spark-submit --master 'local[4]' --py-files /tmp/ligra_spark.zip \
        tools/submit_smoke.py

The job synthesizes a small deterministic transcripts table (no
external data), derives the reply/tool edge graph, runs one PageRank
iteration and full connected components, and prints ONE JSON line with
row counts and a rank checksum. Exit code 0 + the JSON line = the
package is cluster-deployable; executors import ``ligra_spark`` from
the zip exactly as they would on a real multi-executor cluster.
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import SparkSession


def main() -> None:
    spark = SparkSession.builder.appName("ligra_spark_submit_smoke").getOrCreate()
    # imports AFTER the session exists: on a cluster, --py-files ships
    # the zip and this import is the proof it resolved
    from ligra_spark.algorithms.components import cc_contract_local
    from ligra_spark.algorithms.pagerank import pagerank
    from ligra_spark.graph import Graph
    from ligra_spark.sources import generate_transcripts
    from ligra_spark.sources.transcripts import derive_edges

    transcripts = generate_transcripts(spark, n_conv=2000)
    edges = derive_edges(transcripts)
    g = Graph(edges.select("src", "dst"), num_partitions=8)
    pr = pagerank(g, max_iters=1)
    comps = cc_contract_local(g)
    # the closure-key production path (closed.py kernels) must deploy
    # from the zip too — its Arrow kernels call closed.py's module-level
    # CSR helpers, which executors import from the shipped zip
    gc_ = Graph(
        derive_edges(transcripts, closure_key=True),
        closure_key="ckey",
        validated_closure=True,
        num_partitions=8,
    )
    pr_closed = pagerank(gc_, max_iters=1)
    out = {
        "edges": g.m,
        "pr_rows": pr.count(),
        "pr_sum": round(sum(r["rank"] for r in pr.collect()), 6),
        "pr_closed_sum": round(sum(r["rank"] for r in pr_closed.collect()), 6),
        "components": comps.select("comp").distinct().count(),
        "components_closed": cc_contract_local(gc_)
        .select("comp")
        .distinct()
        .count(),
        "import_path": sys.modules["ligra_spark"].__file__,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
