#!/usr/bin/env python
"""Profile the bench's cc_distributed member: split the cost of
deriving its input (the _doc_edges edges and the corpus_exact vertices,
both persisted and counted) from the cost of the connected-components
loop over them.

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/prof_ccdist.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from file_dedup_rust_spark.session import build_session  # noqa: E402
from file_dedup_rust_spark.operators.connected_components import (  # noqa: E402
    connected_components,
)
import file_dedup_rust_spark.entry.testdata_queries as Q  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session("prof_ccdist")
    reps = int(os.environ.get("PROF_REPS", "3"))

    for r in range(reps):
        t0 = time.monotonic()
        doc_edges = Q._doc_edges(spark, sf_dir).select("a", "b").persist()
        doc_verts = Q.corpus_exact(spark, sf_dir).select(
            F.col("doc_id").alias("clip_id")
        ).persist()
        n_e = doc_edges.count()
        n_v = doc_verts.count()
        t1 = time.monotonic()
        asg = connected_components(
            doc_edges, doc_verts, driver_threshold=0, coded_threshold=0
        )
        asg.write.mode("overwrite").format("noop").save()
        t2 = time.monotonic()
        doc_edges.unpersist()
        doc_verts.unpersist()
        print(
            f"rep {r}: edges={n_e} verts={n_v} derive={t1 - t0:.2f}s "
            f"cc={t2 - t1:.2f}s total={t2 - t0:.2f}s",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
