import os

from pyspark.sql import functions as F

from wbkg.checkpoint import CheckpointManager
from wbkg.metrics import read_metrics, with_lineage


def test_checkpoint_resume_zero_recompute(spark, tmp_path):
    cm = CheckpointManager(spark, str(tmp_path / "ckpt"))
    work = spark.range(100).select(F.col("id").alias("k"))

    calls = []

    def compute(df):
        calls.append(1)
        return df.withColumn("v", F.col("k") * 2)

    # first run: everything computed
    full = cm.run_stage("double", work, compute, keys=["k"])
    assert cm.last_recomputed == 100
    assert full.count() == 100

    # resume: nothing recomputed (the reference's cache-hit path,
    # src/summarize.py:209-212)
    full2 = cm.run_stage("double", work, compute, keys=["k"])
    assert cm.last_recomputed == 0
    assert full2.count() == 100

    # extended work list: only the delta computed
    work2 = spark.range(150).select(F.col("id").alias("k"))
    full3 = cm.run_stage("double", work2, compute, keys=["k"])
    assert cm.last_recomputed == 50
    assert full3.count() == 150
    assert full3.filter("v != k * 2").count() == 0


def test_resume_on_uri_base(spark, tmp_path):
    """A file:// checkpoint base (any Hadoop URI: hdfs://, s3a://) resumes
    like a plain path: nothing recomputed and no duplicate rows appended."""
    base = "file://" + str(tmp_path / "ckpt_uri")
    work = spark.range(20).select(F.col("id").alias("k"))

    def compute(df):
        return df.withColumn("v", F.col("k") + 1)

    CheckpointManager(spark, base).run_stage("S", work, compute, ["k"])
    cm = CheckpointManager(spark, base)  # resubmission: a new driver program
    full = cm.run_stage("S", work, compute, ["k"])
    assert cm.last_recomputed == 0
    assert full.count() == 20
    # raw stage files, without read()'s dropDuplicates
    assert spark.read.parquet(base + "/S").count() == 20


def test_kill_and_resume_mid_pipeline(spark, tmp_path):
    """Simulated kill: stage A checkpointed, job dies before stage B; rerun
    completes B without recomputing A."""
    base = str(tmp_path / "ckpt2")
    cm = CheckpointManager(spark, base)
    work = spark.range(20).select(F.col("id").alias("k"))

    a = cm.run_stage("A", work, lambda d: d.withColumn("a", F.col("k") + 1), ["k"])
    assert cm.last_recomputed == 20
    # "crash" here; new driver program:
    cm2 = CheckpointManager(spark, base)
    a2 = cm2.run_stage("A", work, lambda d: d.withColumn("a", F.col("k") + 1), ["k"])
    assert cm2.last_recomputed == 0
    b = cm2.run_stage("B", a2, lambda d: d.withColumn("b", F.col("a") * 10), ["k"])
    assert b.count() == 20
    assert b.filter("b != (k + 1) * 10").count() == 0


def test_lineage_metrics(spark, tmp_path):
    mdir = str(tmp_path / "metrics")
    df = spark.range(1000).repartition(4)
    wrapped = with_lineage(df, "stage_x", mdir)
    assert wrapped.count() == 1000  # pass-through
    m = read_metrics(spark, mdir, "stage_x").toPandas()
    assert m["rows_in"].sum() == 1000
    assert set(m.columns) >= {"stage", "partition_id", "rows_in", "rows_out", "wall_ms"}
    assert (m["stage"] == "stage_x").all()
    assert m["partition_id"].nunique() == len(m)
