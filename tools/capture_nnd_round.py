#!/usr/bin/env python
"""Print .explain("formatted") of one fused NN-Descent round body: the
merge cut with its next-round prune bound (`_w`, `_lead`) attached, as
handed to localCheckpoint at the end of round 1.

Usage: python tools/capture_nnd_round.py SF_DIR

It wraps similarity._nnd_attach_bound for the run; the first frame it
sees is the init state, the second is round 1's body.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1]
    from helix_db_spark import get_spark
    from helix_db_spark.operators import similarity

    spark = get_spark("helix-db-spark-nnd-plan",
                      **{"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    seen = []
    attach = similarity._nnd_attach_bound

    def capture(rows, k_build):
        out = attach(rows, k_build)
        seen.append(out)
        return out

    similarity._nnd_attach_bound = capture
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    similarity.knn_graph_nndescent(emb, "vec_id", "embedding", k=3,
                                   iters=1).count()
    seen[1].explain("formatted")
    spark.stop()


if __name__ == "__main__":
    main()
