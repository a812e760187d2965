"""Fixed-cost shape of the Python-decoded reads: the task index is a JVM
range (one task per partition, in task order), and an index-aware lookup
runs no Spark job beyond the caller's interval collect, one single-task
broadcast of the driver-held interval list, and the count itself.  Job
counts, not timings: those would not hold on a loaded box."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from disq_original_spark.sources.arrow_xfer import rows_to_dataframe

from .util import write_bgzf_vcf


def _jobs_and_tasks(spark, group: str, fn):
    """(jobs, tasks, result) of ``fn()`` run under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = sum(
        tracker.getStageInfo(s).numTasks
        for j in jobs
        for s in tracker.getJobInfo(j).stageIds
    )
    return len(jobs), tasks, out


def test_rows_to_dataframe_keeps_task_order(spark):
    tasks = [f"t{i}" for i in range(9)]
    df = rows_to_dataframe(
        spark,
        tasks,
        lambda t: ({"task": t, "k": k} for k in range(3)),
        ["task", "k"],
        "task string, k int",
    )
    assert df.rdd.getNumPartitions() == len(tasks)
    rows = df.select(F.spark_partition_id().alias("pid"), "task", "k").collect()
    assert [(r.task, r.k) for r in rows] == [(t, k) for t in tasks for k in range(3)]
    assert all(r.task == tasks[r.pid] for r in rows)  # task i in partition i
    # the index is a JVM range, not a Python RDD stage
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Range" in plan and "ExistingRDD" not in plan


_CONTIGS = (("c1", 100_000), ("c2", 100_000))


@pytest.fixture(scope="module")
def indexed_bam(spark, tmp_path_factory):
    from disq_original_spark.sources.bam import READS_SCHEMA, BamSink
    from disq_original_spark.sources.headers import SamHeader

    rows = [
        (f"r{c}.{i}", 0, c, 100 + 10 * i, 60, "50M", None, 0, 0, "A" * 50, "I" * 50, {})
        for c, _ln in _CONTIGS
        for i in range(2000)
    ]
    header = SamHeader.parse(
        "@HD\tVN:1.6\tSO:coordinate\n"
        + "".join(f"@SQ\tSN:{c}\tLN:{ln}\n" for c, ln in _CONTIGS)
    )
    path = str(tmp_path_factory.mktemp("lookup") / "reads.bam")
    BamSink().write(
        spark.createDataFrame(rows, READS_SCHEMA).coalesce(2), header, path, write_bai=True
    )
    return path


@pytest.fixture(scope="module")
def indexed_vcf(tmp_path_factory):
    header = (
        "##fileformat=VCFv4.3\n"
        + "".join(f"##contig=<ID={c},length={ln}>\n" for c, ln in _CONTIGS)
        + "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
    )
    lines = [
        f"{c}\t{100 + 10 * i}\t.\tA\tC\t50\tPASS\t." for c, _ln in _CONTIGS for i in range(2000)
    ]
    path = str(tmp_path_factory.mktemp("lookup") / "variants.vcf.bgz")
    write_bgzf_vcf(path, header, lines)
    return path


def test_lookup_runs_only_collect_local_broadcast_and_count(spark, indexed_bam, indexed_vcf):
    """The residual broadcast must not re-run the caller's interval plan,
    and the task index must not be a stage of unknown partitioning (that
    puts a shuffle, hence a second job, in front of the count)."""
    from disq_original_spark.storage import ReadsStorage, VariantsStorage

    iv = spark.createDataFrame([("c1", 5_000, 6_000)], "contig string, start long, end long")
    collect_jobs, collect_tasks, _ = _jobs_and_tasks(spark, "lookup-iv", iv.collect)
    lookups = {
        # reads of 50 bp at 100 + 10 i overlap [5000, 6000] for POS 4960..6000
        "bam": (lambda: ReadsStorage(spark).read(indexed_bam, intervals=iv).count(), 105),
        "vcf": (lambda: VariantsStorage(spark).read(indexed_vcf, intervals=iv).count(), 101),
    }
    for kind, (lookup, want) in lookups.items():
        jobs, tasks, got = _jobs_and_tasks(spark, f"lookup-{kind}", lookup)
        assert got == want, kind
        # the caller's collect + the broadcast of the driver-held interval
        # list (one JVM task) + the single-split count (one task)
        assert (jobs, tasks) == (collect_jobs + 2, collect_tasks + 2), kind
