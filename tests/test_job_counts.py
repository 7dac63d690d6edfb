"""Scheduler-counter pins for the conversion chain: the number of Spark
jobs one call runs and the RDDs it leaves persisted are deterministic,
so unlike wall time they gate a regression on any box."""

from tests.test_sonata import _make_edges

# parquet -> bundle (table + both index directions) -> parallel .h5 runs
# 21 jobs on this fixture; the margin absorbs planner variation only
PARQUET_TO_SONATA_MAX_JOBS = 21 + 3


def test_parquet_to_sonata_job_count_and_residue(spark, tmp_path):
    from parquet_converters_spark.pipelines import parquet_to_sonata

    in_dir, _ = _make_edges(tmp_path)
    sc = spark.sparkContext

    def persisted():
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    # compare ids, not counts: the context cleaner may release RDDs that
    # earlier tests left behind while this call runs
    before = persisted()
    group = "test_parquet_to_sonata_job_count"
    sc.setJobGroup(group, group)
    try:
        parquet_to_sonata(
            spark, in_dir, str(tmp_path / "bundle"), population="p",
            h5_path=str(tmp_path / "edges.h5"), parallel_h5=True,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    print(f"parquet_to_sonata: {n_jobs} jobs")
    assert n_jobs <= PARQUET_TO_SONATA_MAX_JOBS
    assert not persisted() - before, "parquet_to_sonata left RDDs persisted"
