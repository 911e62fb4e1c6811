"""Stage-barrier counters (catalog.stage / catalog.observed) — pipeline
counters collected as a side effect of the barrier's own job, not a
second scan."""

from pyspark.sql import functions as F

from project_orbit_spark.catalog import observed, stage


def test_observed_counters_ride_the_main_action(spark):
    df = spark.range(1000).withColumn("v", F.col("id") % 10)
    out = stage(df.filter(F.col("v") > 4), "stage_metrics", v_sum=F.sum("v"))
    n = out.count()  # reads the barrier; the counters rode its job
    got = observed(out)
    assert got["rows"] == n == 500
    assert got["v_sum"] == sum(i % 10 for i in range(1000) if i % 10 > 4)


def test_stage_names_its_jobs_and_restores_the_caller_description(spark):
    """Every job a stage runs (its checkpoint job and the shuffle stage
    jobs AQE submits below it) carries the stage's name as its
    description, read from the status store; the job group's own
    description is back in place afterwards."""
    import time
    import uuid

    sc = spark.sparkContext
    group = f"named-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "the caller's description")
    try:
        stage(
            spark.range(0, 200).groupBy((F.col("id") % 7).alias("k")).count(),
            "test.named_stage",
        )
        restored = sc.getLocalProperty("spark.job.description")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert restored == "the caller's description"
    store = sc._jsc.sc().statusStore()
    st = sc.statusTracker()
    deadline = time.time() + 30
    while True:
        ids = st.getJobIdsForGroup(group)
        infos = [st.getJobInfo(j) for j in ids]
        if ids and all(i is not None and i.status != "RUNNING" for i in infos):
            break
        assert time.time() < deadline, ids
        time.sleep(0.25)
    names = {}
    for j in ids:
        desc = store.job(j).description()
        names[j] = desc.get() if desc.isDefined() else None
    assert len(names) >= 2, names  # the aggregate's shuffle stage job and the checkpoint
    assert set(names.values()) == {"test.named_stage"}, names
