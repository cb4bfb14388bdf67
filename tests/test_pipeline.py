"""End-to-end extract_data pipeline (reference main.py:363-404 parity):
CSV in -> prepare -> sweep -> CSV out (+ two-phase merge in loop mode),
native and faithful-loop modes must produce identical insight sets."""

from __future__ import annotations

import contextlib
import csv
import glob
import os
import uuid

import pytest
from pyspark.sql import functions as F

from app_insights_generator_spark.config import InsightsConfig
from app_insights_generator_spark.pipeline import extract_data
from app_insights_generator_spark.sources import load_table
from app_insights_generator_spark.sources.writers import write_csv

CFG = InsightsConfig(
    agg_cols=("o_orderstatus", "o_orderpriority", "o_totalprice", "o_orderyear"),
    bucket_sizes={"o_totalprice": 100_000, "o_orderyear": 5},
    range_filters={"o_orderyear": (1971, 2023)},
    threshold_percent=2.0,
)


@pytest.fixture(scope="module")
def orders_csv(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pipe") / "orders_csv")
    base = (
        load_table(spark, sf_dir, "orders")
        .withColumn("o_orderyear", F.year("o_orderdate"))
        .select("o_orderstatus", "o_orderpriority", "o_totalprice", "o_orderyear")
    )
    write_csv(base, path, header=True, mode="overwrite")
    return path


def _insights(df) -> list[str]:
    return sorted(r.Insights for r in df.collect())


def _part_file_insights(out: str) -> list[str]:
    """The insights as written: every part file, each with its own header."""
    rows = []
    for part in glob.glob(os.path.join(out, "part-*.csv")):
        with open(part, newline="") as f:
            lines = list(csv.reader(f))
        if lines:
            assert lines[0] == ["Insights"]
            rows.extend(r[0] for r in lines[1:])
    return sorted(rows)


@contextlib.contextmanager
def _job_group(spark):
    """Collects the ids of the Spark jobs this thread starts in the block."""
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    jobs: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield jobs
    finally:
        sc._jsc.clearJobGroup()
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


def _native_equals_loop(spark, csv_path, out_dir, cfg) -> list[str]:
    """Runs both modes; asserts equal insights, the returned frame's shape
    and that it holds exactly the written rows. Returns the insights."""
    native_out, loop_out = str(out_dir / "native"), str(out_dir / "loop")
    native = extract_data(spark, csv_path, native_out, cfg, mode="native")
    loop = extract_data(spark, csv_path, loop_out, cfg, mode="loop", batch_size=4)
    for df, out in ((native, native_out), (loop, loop_out)):
        assert df.columns == ["Insights"]
        assert _insights(df) == _part_file_insights(out)
    assert _insights(native) == _insights(loop)
    return _insights(native)


def test_native_and_loop_modes_agree(spark, orders_csv, tmp_path):
    native = extract_data(
        spark, orders_csv, str(tmp_path / "out_native"), CFG, mode="native"
    )
    loop = extract_data(
        spark, orders_csv, str(tmp_path / "out_loop"), CFG, mode="loop", batch_size=4
    )
    a, b = _insights(native), _insights(loop)
    assert len(a) > 0
    assert a == b


def test_loop_mode_two_phase_merge_artifacts(spark, orders_csv, tmp_path):
    out = str(tmp_path / "merged")
    extract_data(spark, orders_csv, out, CFG, mode="loop", batch_size=4)
    # compaction source dir exists alongside the final output (main.py:391-393)
    assert os.path.isdir(f"{out}_partitioned")
    # batched append writes -> several part files; final merge re-reads them all
    merged = spark.read.option("header", True).csv(out)
    parts = spark.read.option("header", True).csv(f"{out}_partitioned")
    assert _insights(merged) == _insights(parts)


def test_single_file_flag(spark, orders_csv, tmp_path):
    out = str(tmp_path / "single")
    extract_data(spark, orders_csv, out, CFG, mode="native", single_file=True)
    csvs = [f for f in os.listdir(out) if f.startswith("part-") and f.endswith(".csv")]
    assert len(csvs) == 1  # coalesce(1) opt-in (reference main.py:358, 393)


def test_native_num_partitions_adds_no_shuffle(spark, orders_csv, tmp_path, monkeypatch):
    """Native mode ignores ``num_partitions``: the pre-aggregate shuffles
    the raw rows anyway, so a round-robin repartition before it would be a
    full extra shuffle."""
    from app_insights_generator_spark import pipeline

    written = []
    write_csv_orig = pipeline.write_csv

    def spy(df, *args, **kwargs):
        written.append(df)
        return write_csv_orig(df, *args, **kwargs)

    monkeypatch.setattr(pipeline, "write_csv", spy)
    plain = extract_data(spark, orders_csv, str(tmp_path / "plain"), CFG)
    three = extract_data(spark, orders_csv, str(tmp_path / "three"), CFG, num_partitions=3)
    assert _insights(three) == _insights(plain)
    plan = written[-1]._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan
    assert "RoundRobinPartitioning" not in plan, plan


def test_unknown_mode_fails_before_any_job(spark, orders_csv, tmp_path):
    with _job_group(spark) as jobs, pytest.raises(ValueError, match="unknown mode"):
        extract_data(spark, orders_csv, str(tmp_path / "out"), CFG, mode="bogus")
    assert jobs == []


def test_native_job_count_bound_and_no_cache_left(spark, orders_csv, tmp_path):
    """One native run over a small inferred CSV: 2 schema-inference jobs
    plus the write's query stages (pre-aggregate, threshold subquery,
    cube, write); the returned frame is a lazy re-read and runs none. The
    former cache+count plus header-sniffing re-read measured 9."""
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keys())
    with _job_group(spark) as jobs:
        out = extract_data(spark, orders_csv, str(tmp_path / "out"), CFG)
    assert len(jobs) <= 7, f"{len(jobs)} jobs"
    assert set(sc._jsc.getPersistentRDDs().keys()) - before == set()
    assert out.columns == ["Insights"]


def test_header_only_csv(spark, tmp_path):
    path = tmp_path / "empty.csv"
    path.write_text(",".join(CFG.agg_cols) + "\n")
    assert _native_equals_loop(spark, str(path), tmp_path, CFG) == []


def test_range_filter_dropping_every_row(spark, orders_csv, tmp_path):
    """N = 0 after the filter: the threshold subquery sums NULL -> t = 0."""
    cfg = InsightsConfig(
        agg_cols=CFG.agg_cols,
        bucket_sizes=CFG.bucket_sizes,
        range_filters={"o_orderyear": (3000, 3001)},
        threshold_percent=CFG.threshold_percent,
    )
    assert _native_equals_loop(spark, orders_csv, tmp_path, cfg) == []


def test_threshold_boundary_groups(spark, tmp_path):
    """N = 100 rows at 29 %: 0.29 * 100 is 28.999999999999996 in IEEE
    doubles, so t = 28, not 29. A group of exactly 28 rows must survive
    and one of 27 must not, in both modes."""
    cfg = InsightsConfig(agg_cols=("a", "b"), threshold_percent=29.0)
    assert int(cfg.threshold_percent / 100.0 * 100) == 28
    path = tmp_path / "boundary.csv"
    rows = ["x"] * 28 + ["y"] * 27 + ["z"] * 45
    path.write_text("a,b\n" + "".join(f"{a},p\n" for a in rows))
    got = _native_equals_loop(spark, str(path), tmp_path, cfg)
    assert got == sorted(
        ["a=x;28", "a=z;45", "b=p;100", "a=x;b=p;28", "a=z;b=p;45"]
    )
