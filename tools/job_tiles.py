"""spark-submit entry point: documents→tiles with lineage checkpoints.

The north rule mandates running via ``spark-submit --py-files`` — this
is that job. It consumes a spans-table parquet directory (synthesizing
one deterministically when absent), runs the staged pipeline
(scan → parse → tile) with lineage checkpoints, and prints a one-line
JSON summary. Killed and re-submitted, it resumes from the committed
stages.

    ./tools/submit_tiles.sh [n_docs] [res] [work_dir]
"""

from __future__ import annotations

import json
import sys
import time


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    res = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    work = sys.argv[3] if len(sys.argv) > 3 else "/tmp/k2g_job"

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("kml2geojson-tiles").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import kml2geojson_spark as k2gs
    from kml2geojson_spark.lineage import Pipeline
    from kml2geojson_spark.spatial import tile_assignments_from_docs

    t0 = time.time()
    pipe = Pipeline(spark, work)
    docs = pipe.stage(
        "corpus",
        lambda: k2gs.synthesize_documents_kml(spark, n_docs, seed=42),
        params={"n_docs": n_docs, "seed": 42})
    tiles = pipe.stage(
        "tiles",
        lambda: tile_assignments_from_docs(docs, res),
        params={"res": res}, cell_col="cell_id")

    from pyspark.sql import functions as F
    totals = tiles.agg(
        F.sum("n_features").alias("features"),
        F.count(F.lit(1)).alias("tiles")).collect()[0]
    print(json.dumps({
        "job": "tiles",
        "n_docs": n_docs,
        "res": res,
        "tiles": int(totals["tiles"]),
        "features": int(totals["features"]),
        "wall_s": round(time.time() - t0, 2),
        "resumed": {name: m["wall_time_s"]
                    for name, m in pipe.manifests.items()},
    }))
    spark.stop()


if __name__ == "__main__":
    main()
