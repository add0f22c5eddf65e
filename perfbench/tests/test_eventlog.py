import os

import eventlog
from conftest import session


def test_parse_bills_jobs_to_their_group(tmp_path):
    log_dir = str(tmp_path)
    spark = session(**{
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    def double(batches):  # nested: pickled by value for the workers
        for pdf in batches:
            yield pdf.assign(id=pdf["id"] * 2)

    sc = spark.sparkContext
    sc.setJobGroup("t:shuffle", "shuffle")
    (spark.range(10_000).selectExpr("id % 7 AS k").groupBy("k").count()
     .collect())
    sc.setJobGroup("t:python", "python")
    spark.range(10_000, numPartitions=2).mapInPandas(
        double, schema="id long").write.format("noop").mode(
        "overwrite").save()
    sc.setJobGroup("t:once", "once")
    spark.range(10).count()
    sc.setJobGroup("t:twice", "twice")
    spark.range(10).count()
    spark.range(10).count()
    sc.setLocalProperty("spark.jobGroup.id", None)
    spark.range(10).count()  # no group: not billed anywhere
    app = sc.applicationId
    spark.stop()

    groups = eventlog.parse(os.path.join(log_dir, app))

    assert set(groups) == {"t:shuffle", "t:python", "t:once", "t:twice"}
    shuffle, python, once, twice = (
        groups[g] for g in ("t:shuffle", "t:python", "t:once", "t:twice"))
    assert once.jobs >= 1 and twice.jobs == 2 * once.jobs
    assert shuffle.tasks >= 2 and shuffle.shuffle_write_mb > 0
    assert shuffle.exec_run_s >= 0 and shuffle.exec_cpu_s > 0
    assert shuffle.python_s == 0 and shuffle.arrow_mb == 0
    assert python.tasks == 2 and python.python_s > 0
    # 10k longs go to the workers and come back: at least 160 kB
    assert python.arrow_mb >= 0.16
    assert python.shuffle_write_mb == 0
