"""spark-submit entry point: the flagship crown-stem assignment job.

Usage (local or any cluster master):
    spark-submit --master local[8] \
        --py-files dist/geotreehealth_spark.zip \
        tools/submit_job.py --sf-dir /root/testdata/sf0.001 [--out /path]

Executors import geotreehealth_spark from the shipped zip; the driver writes
one JSON result line to stdout (rows + a value hash) and, with --out, the
match table as parquet via the catalog sink.
"""
from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession, functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    spark = SparkSession.builder.appName("geotreehealth-submit").getOrCreate()
    # imported AFTER the session exists so --py-files distribution is what
    # makes the package importable on executors
    from geotreehealth_spark import synth
    from geotreehealth_spark.operators import pip_join

    stems = synth.stems(spark, args.sf_dir)
    crowns = synth.crowns(spark, args.sf_dir)
    matches = pip_join.pip_assign_best(
        stems, crowns, poly_id="crown_id", point_id="stem_tag", cell_size=25.0
    )
    h = matches.select(
        F.expr("bit_xor(xxhash64(crown_id, stem_tag, dist))").alias("h")
    ).collect()[0].h
    n = matches.count()
    if args.out:
        from geotreehealth_spark.catalog import Catalog
        Catalog(args.out).append(matches, "crown_stem_matches")
    print(json.dumps({"rows": n, "hash": int(h or 0)}))
    spark.stop()


if __name__ == "__main__":
    main()
