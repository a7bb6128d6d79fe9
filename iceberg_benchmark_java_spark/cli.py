"""CLI driver (harness operators A1/A2/A15).

Mirrors the reference's picocli surface (IcebergBenchmark.java:31-90):

  --tpcds-dir / --tpch-dir      query corpus directories (sorted *.sql)
  --tpcds-data-db / --tpch-data-db   database names per suite
  --catalog-name                Spark catalog holding the warehouse
  --output-gcs-path             results root (any Hadoop-compatible path)
  --run-id                      run identifier (results land under it)

Plus rebuild-specific axes replacing runner.sh/partitioned_runner.sh:
  --fixture-suite   register the committed fixtures/<suite> warehouse under
                    bare table names (local mode, no Iceberg catalog)
  --partitioned-warehouse   date-partitioned facts under <path>/<suite>
  --shuffle-partitions / --no-aqe / --schema-size

Run:  python -m iceberg_benchmark_java_spark.cli --tpch-dir corpus/tpch_ref \
          --fixture-suite tpch --run-id local-1 \
          --output-gcs-path /tmp/ibx-results
"""

from __future__ import annotations

import argparse
import os

from .corpus_ref import register_bare_views
from .harness.runner import BenchmarkRunner
from .session import SparkConfig, build_session


def make_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="PySpark benchmark harness")
    p.add_argument("--tpcds-dir", default=None)
    p.add_argument("--tpch-dir", default=None)
    p.add_argument("--tpcds-data-db", default="tpcds")
    p.add_argument("--tpch-data-db", default="tpch")
    p.add_argument("--catalog-name", default="")
    p.add_argument(
        "--warehouse",
        default=None,
        help="Iceberg warehouse path for --catalog-name (mounts a hadoop "
        "catalog when the iceberg-spark-runtime jar is present)",
    )
    p.add_argument("--output-gcs-path", required=True)
    p.add_argument("--run-id", required=True)
    p.add_argument(
        "--fixture-suite",
        choices=["tpcds", "tpch"],
        default=None,
        help="register the repo-local fixtures/<suite> warehouse under bare "
        "table names so the verbatim reference corpus "
        "(corpus/<suite>_ref) runs through the harness unmodified",
    )
    p.add_argument(
        "--partitioned-warehouse",
        default=None,
        help="materialize+use a time-partitioned layout of the "
        "--fixture-suite facts under <path>/<suite> (the reference's "
        "partitioned_runner.sh axis)",
    )
    p.add_argument("--schema-size", default="sf?")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--no-aqe", action="store_true")
    p.add_argument("--no-metrics", action="store_true")
    return p


def main(argv: list[str] | None = None) -> int:
    parser = make_parser()
    args = parser.parse_args(argv)
    if args.partitioned_warehouse and not args.fixture_suite:
        parser.error("--partitioned-warehouse applies to --fixture-suite facts")
    cfg = SparkConfig(
        app_name=f"ibx-{args.run_id}",
        shuffle_partitions=args.shuffle_partitions,
        adaptive=not args.no_aqe,
        catalog_name=args.catalog_name or "local",
        warehouse=args.warehouse,
    )
    spark = build_session(cfg)
    if args.catalog_name:
        # --catalog-name switches templating + USE to catalog-qualified mode;
        # without a mounted catalog every query would die at USE with an
        # opaque error. Fail fast unless the catalog is actually configured
        # (via --warehouse here, or spark.sql.catalog.* conf injected by the
        # launcher, as spark_submit_with_analytics_core.sh does).
        try:
            spark.conf.get(f"spark.sql.catalog.{args.catalog_name}")
        except Exception:
            print(
                f"error: --catalog-name {args.catalog_name} but no "
                f"spark.sql.catalog.{args.catalog_name} is configured — pass "
                "--warehouse (requires the iceberg-spark-runtime jar) or set "
                "the catalog conf in the launcher"
            )
            return 2
    if args.fixture_suite:
        # Bare-name views over fixtures/<suite>: catalog-less templating
        # strips ${database}.${schema}., leaving exactly these names, so the
        # byte-identical reference files execute through the harness path
        # (discovery → templating → timed noop → results CSV).
        # --partitioned-warehouse switches the facts to the date-partitioned
        # layout (partitioned_runner.sh axis over the verbatim corpus).
        part_dir = (
            os.path.join(args.partitioned_warehouse, args.fixture_suite)
            if args.partitioned_warehouse
            else None
        )
        register_bare_views(spark, args.fixture_suite, partitioned_dir=part_dir)
    # A4 config introspection (IcebergBenchmark.java:107-118): tag results
    # with the catalog's connector config; same keys and defaults.
    cat = args.catalog_name or "local"
    analytics_core = (
        spark.conf.get(f"spark.sql.catalog.{cat}.gcs.analytics-core.enabled", "false")
        == "true"
    )
    client_type = (
        "GRPC"
        if spark.conf.get(f"spark.sql.catalog.{cat}.gcs.client.type", "HTTP_CLIENT")
        == "GRPC_CLIENT"
        else "HTTP"
    )
    runner = BenchmarkRunner(
        spark,
        run_id=args.run_id,
        schema_size=args.schema_size,
        collect_metrics=not args.no_metrics,
        analytics_core_enabled=analytics_core,
        client_type=client_type,
    )
    # suite order mirrors the reference: TPC-DS then TPC-H
    # (IcebergBenchmark.java:121-122)
    use_db = bool(args.catalog_name)
    if args.tpcds_dir:
        runner.run_suite(
            "TPC-DS", args.tpcds_dir, args.catalog_name, args.tpcds_data_db, use_db
        )
    if args.tpch_dir:
        runner.run_suite(
            "TPC-H", args.tpch_dir, args.catalog_name, args.tpch_data_db, use_db
        )
    target = runner.flush_csv(args.output_gcs_path)
    failed = [r.query_name for r in runner.results if r.status == "FAILED"]
    print(f"results: {target}  queries: {len(runner.results)}  failed: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
