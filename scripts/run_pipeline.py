"""spark-submit entry point: the full parse → enrich → route → aggregate job.

Usage (north_star packaging contract):

    cd /root/repo && zip -r geoip_spark.zip logstash_filter_geoip_spark
    spark-submit --py-files geoip_spark.zip scripts/run_pipeline.py \
        --input /root/testdata/sf0.001 --output /tmp/geoip_out \
        --database City --ecs --n-salt 32

On a cluster, point --input at the Iceberg transcripts table directory and
pass --format iceberg. The job writes role/tool-partitioned sinks, the
windowed geo aggregate, failure counts, per-partition metrics, and the
resume manifest; re-running with the same input is a no-op (idempotent).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="sf_dir or table path")
    ap.add_argument("--output", required=True)
    ap.add_argument("--database", default="City")
    ap.add_argument("--ecs", action="store_true", default=True)
    ap.add_argument("--legacy", dest="ecs", action="store_false")
    ap.add_argument("--fields", nargs="*", default=None)
    ap.add_argument("--target", default="geoip")
    ap.add_argument("--n-salt", type=int, default=32)
    ap.add_argument("--format", default="parquet")
    ap.add_argument("--window", default="1 hour")
    return ap.parse_args(argv)


def run(spark, args: argparse.Namespace):
    """The job body: (enriched DataFrame, summary dict). Parse → enrich is
    pipeline.enriched_transcripts, so the job enriches against the same
    default dims as every batch and stream caller and plans the v4-only
    enrich path for parse's `ip_str` source."""
    from logstash_filter_geoip_spark.config import GeoIPConfig
    from logstash_filter_geoip_spark.operators import aggregate as agg
    from logstash_filter_geoip_spark.operators.route import route, verify_routing
    from logstash_filter_geoip_spark.pipeline import enriched_transcripts

    cfg = GeoIPConfig(source="ip_str", target=args.target, fields=args.fields,
                      database=args.database, ecs_compatibility=args.ecs)

    t0 = time.time()
    enriched = enriched_transcripts(spark, args.input, cfg)

    manifest = route(enriched.drop(args.target), args.output,
                     n_salt=args.n_salt, fmt=args.format)

    agg.turns_per_geo_window(enriched, f"{args.target}.geo.country_iso_code",
                             window=args.window) \
       .write.format(args.format).mode("overwrite") \
       .save(os.path.join(args.output, "agg_geo_window"))
    agg.failure_counts_per_sink(enriched) \
       .write.format(args.format).mode("overwrite") \
       .save(os.path.join(args.output, "agg_failures"))

    parity = verify_routing(spark, enriched, args.output)
    return enriched, {
        "manifest": {k: v for k, v in manifest.items() if k != "written_at"},
        "routing_parity_ok": parity["ok"],
        "elapsed_sec": round(time.time() - t0, 2)}


def main() -> None:
    args = parse_args()
    from pyspark.sql import SparkSession
    spark = SparkSession.builder.appName("geoip-pipeline").getOrCreate()
    _, summary = run(spark, args)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
