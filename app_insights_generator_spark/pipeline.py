"""End-to-end insights pipeline (reference extract_data, main.py:363-404).

Two flows over the same read -> cast -> range-filter -> bucket prefix:

- ``mode="native"``: read -> prepare -> ONE cube plan -> write. The sweep
  is a single lazy grouping-sets aggregation whose support threshold is a
  scalar subquery over its own pre-aggregate (operators/sweep.py), so the
  CSV is parsed once after schema inference, nothing is cached or
  counted, and the parallel write is the plan's only job. No append
  batches, no compaction, no ``coalesce(1)`` unless ``single_file`` is
  requested (the reference's per-batch coalesce(1), main.py:358, is a
  single-task bottleneck at scale).
- ``mode="loop"`` keeps the faithful shape: repartition -> cache -> count
  (one shared threshold denominator, main.py:344) -> <=128-combination
  batches appended to ``<out>_partitioned`` with per-file headers, then
  re-read and merged into the final CSV exactly like the reference
  (main.py:391-393) -> unpersist.

Both return the FINAL insights DataFrame as a lazy re-read of the written
CSV, not the raw input (the reference returns the pre-transform frame,
main.py:404 — a vestigial surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from app_insights_generator_spark.config import InsightsConfig
from app_insights_generator_spark.operators.insights import prepare
from app_insights_generator_spark.operators.sweep import (
    sweep_grouping_sets,
    sweep_loop,
)
from app_insights_generator_spark.sources.readers import read_csv
from app_insights_generator_spark.sources.writers import write_csv


def extract_data(
    spark: SparkSession,
    csv_path: str,
    output_path: str,
    cfg: InsightsConfig,
    *,
    header: bool = True,
    infer_schema: bool = True,
    schema=None,
    mode: str = "native",
    num_partitions: int | None = None,
    batch_size: int = 128,
    single_file: bool = False,
) -> DataFrame:
    """Run the full reference pipeline over a CSV; returns the insights
    DataFrame after writing ``output_path``.

    ``num_partitions`` repartitions the prepared rows in loop mode only
    (reference main.py:388), where the cache that follows is scanned once
    per batch. Native mode ignores it: nothing reads the raw rows before
    the pre-aggregate's own shuffle, so a repartition there would be a
    full extra shuffle that buys nothing.
    """
    if mode not in ("native", "loop"):
        raise ValueError(f"unknown mode {mode!r} (want 'native' or 'loop')")
    raw = read_csv(spark, csv_path, header=header, infer_schema=infer_schema, schema=schema)
    bucketed = prepare(raw, cfg)
    if mode == "native":
        # One lazy plan: the write is its only action, threshold included.
        insights = sweep_grouping_sets(bucketed, cfg)
        write_csv(insights, output_path, header=True, mode="overwrite",
                  single_file=single_file)
        return _read_insights(spark, output_path)

    if num_partitions:
        # reference main.py:388; at scale prefer AQE coalescing instead
        bucketed = bucketed.repartition(num_partitions)
    bucketed = bucketed.cache()
    try:
        total = bucketed.count()  # one shared threshold denominator (main.py:344)
        part_dir = f"{output_path}_partitioned"
        batches = sweep_loop(bucketed, cfg, total_count=total, batch_size=batch_size)
        for batch in batches:
            # append + per-file header, reconciled on re-read (main.py:358, 392)
            write_csv(batch, part_dir, header=True, mode="append",
                      single_file=single_file)
        write_csv(_read_insights(spark, part_dir), output_path, header=True,
                  mode="overwrite", single_file=single_file)
        return _read_insights(spark, output_path)
    finally:
        bucketed.unpersist()


def _read_insights(spark: SparkSession, path: str) -> DataFrame:
    """Lazy re-read of an insights CSV. The declared schema spares the
    header-sniffing job Spark runs for a schemaless CSV read."""
    return spark.read.schema("Insights STRING").option("header", True).csv(path)


def main(argv: list[str] | None = None) -> None:
    """CLI entry point (reference __main__, main.py:407-421): run the
    pipeline on a CSV with a workload described on the command line."""
    import argparse
    import json

    from app_insights_generator_spark.session import get_spark

    p = argparse.ArgumentParser(description="insights pipeline over a CSV")
    p.add_argument("--csv_file_path", required=True)
    p.add_argument("--output_path", required=True)
    p.add_argument("--agg_cols", required=True, help="comma-separated sweep columns")
    p.add_argument("--bucket_sizes", default="{}", help='JSON, e.g. {"price": 100}')
    p.add_argument("--range_filters", default="{}", help='JSON, e.g. {"year": [1971, 2023]}')
    p.add_argument("--int_cast_cols", default="", help="comma-separated")
    p.add_argument("--threshold_percent", type=float, default=2.0)
    p.add_argument("--mode", choices=("native", "loop"), default="native")
    p.add_argument("--single_file", action="store_true")
    args = p.parse_args(argv)

    cfg = InsightsConfig(
        agg_cols=tuple(c for c in args.agg_cols.split(",") if c),
        bucket_sizes=json.loads(args.bucket_sizes),
        range_filters={
            k: (float(lo), float(hi))
            for k, (lo, hi) in json.loads(args.range_filters).items()
        },
        int_cast_cols=tuple(c for c in args.int_cast_cols.split(",") if c),
        threshold_percent=args.threshold_percent,
    )
    spark = get_spark(app_name="insights-pipeline")
    out = extract_data(
        spark,
        args.csv_file_path,
        args.output_path,
        cfg,
        mode=args.mode,
        single_file=args.single_file,
    )
    print(f"insights rows: {out.count()}")


if __name__ == "__main__":
    main()
