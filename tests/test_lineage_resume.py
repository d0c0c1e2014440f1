"""Checkpoint / lineage / idempotent-resume property tests (SURVEY §7 risk 4)."""

from __future__ import annotations

import os
import shutil
import uuid
from contextlib import contextmanager

from pyspark.sql import functions as F

from work_order_pdf_extractor_spark.plans import lineage, pipeline


def _run(spark, transcripts_df, ref_orders_df, out_dir, n_buckets=8, **kw):
    return lineage.run_with_checkpoint(
        spark, transcripts_df, ref_orders_df, str(out_dir), n_buckets=n_buckets, **kw
    )


@contextmanager
def _spark_jobs(spark):
    """Yields a list that, on exit, holds the ids of the Spark jobs the
    block started (its own job group, read after the listener bus drains)."""
    sc = spark.sparkContext
    group = f"lineage-test-{uuid.uuid4().hex}"
    jobs: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_full_run_then_noop_rerun(spark, transcripts_df, ref_orders_df, golden_pd, tmp_path):
    out = tmp_path / "ckpt"
    s1 = _run(spark, transcripts_df, ref_orders_df, out, run_id="r1")
    assert s1["buckets_done"] > 0 and s1["buckets_skipped"] == 0

    df1 = lineage.read_output(spark, str(out)).toPandas()
    assert len(df1) == len(golden_pd)

    s2 = _run(spark, transcripts_df, ref_orders_df, out, run_id="r2")
    assert s2["buckets_done"] == 0, "rerun reprocessed committed buckets"
    assert s2["buckets_skipped"] == s1["buckets_done"]

    df2 = lineage.read_output(spark, str(out)).toPandas()
    a = df1.sort_values(["conv_id", "turn_idx"], ignore_index=True)
    b = df2.sort_values(["conv_id", "turn_idx"], ignore_index=True)
    assert a["extracted_text"].fillna("\0").equals(b["extracted_text"].fillna("\0"))


def test_resume_after_partial_crash(spark, transcripts_df, ref_orders_df, golden_pd, tmp_path):
    out = tmp_path / "ckpt2"
    _run(spark, transcripts_df, ref_orders_df, out, run_id="r1")
    # simulate a crash that lost two buckets (data + lineage rows)
    dd = os.path.join(out, "data")
    lost = sorted(os.listdir(dd))[:2]
    for name in lost:
        shutil.rmtree(os.path.join(dd, name))
    for f in os.listdir(os.path.join(out, "_lineage")):
        if any(f.startswith(f"bucket-{int(n.split('=')[1]):05d}") for n in lost):
            os.remove(os.path.join(out, "_lineage", f))

    s2 = _run(spark, transcripts_df, ref_orders_df, out, run_id="r2")
    assert s2["buckets_done"] == len(lost)

    df = lineage.read_output(spark, str(out)).toPandas()
    assert len(df) == len(golden_pd)


def test_crash_between_rename_and_lineage_repairs(spark, transcripts_df, ref_orders_df, tmp_path):
    out = tmp_path / "ckpt3"
    _run(spark, transcripts_df, ref_orders_df, out, run_id="r1")
    # bucket dir exists but its lineage row vanished (the crash window)
    victim = sorted(os.listdir(os.path.join(out, "data")))[0]
    b = int(victim.split("=")[1])
    for f in os.listdir(os.path.join(out, "_lineage")):
        if f.startswith(f"bucket-{b:05d}"):
            os.remove(os.path.join(out, "_lineage", f))

    s2 = _run(spark, transcripts_df, ref_orders_df, out, run_id="r2")
    assert s2["buckets_done"] == 0, "visible bucket was reprocessed"


def test_lineage_rows_have_failure_counts(spark, transcripts_df, ref_orders_df, golden_pd, tmp_path):
    out = tmp_path / "ckpt4"
    _run(spark, transcripts_df, ref_orders_df, out, run_id="r1")
    lin = lineage.read_lineage(spark, str(out)).toPandas()
    assert int(lin.rows_out.sum()) == len(golden_pd)
    assert int(lin.n_failed.sum()) == int((golden_pd.status != "ok").sum())


def test_lineage_rows_match_each_bucket_dir(spark, transcripts_df, ref_orders_df, tmp_path):
    """Every committed bucket dir's lineage row carries that dir's own
    counts and input fingerprint, not just totals that sum right."""
    out = tmp_path / "ckpt5"
    _run(spark, transcripts_df, ref_orders_df, out, run_id="r1")
    dirs = {
        int(n.split("=", 1)[1])
        for n in os.listdir(os.path.join(out, "data"))
        if n.startswith("bucket=")
    }
    lin = {r["bucket"]: r for r in lineage.read_lineage(spark, str(out)).collect()}
    actual = {
        r["bucket"]: r
        for r in lineage.read_output(spark, str(out))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).alias("failed"),
            F.expr("bit_xor(xxhash64(conv_id, turn_idx))").alias("fp"),
            F.sum((lineage.bucket_col(8) != F.col("bucket")).cast("int")).alias("misplaced"),
        )
        .collect()
    }
    assert set(lin) == set(actual) == dirs
    for b in dirs:
        row, got = lin[b], actual[b]
        assert got["misplaced"] == 0, b
        assert row["rows_out"] == row["rows_in"] == got["rows"], b
        assert row["n_failed"] == got["failed"], b
        assert row["input_fingerprint"] == got["fp"], b


def test_stray_lineage_tmp_is_not_a_commit(spark, transcripts_df, ref_orders_df, tmp_path):
    """A half-written ``.json.tmp`` (crash during the lineage append) is
    neither read nor counted: its bucket is recommitted on resume."""
    out = tmp_path / "ckpt6"
    _run(spark, transcripts_df, ref_orders_df, out, run_id="r1")
    dd, ld = os.path.join(out, "data"), os.path.join(out, "_lineage")
    victim = sorted(os.listdir(dd))[0]
    b = int(victim.split("=")[1])
    shutil.rmtree(os.path.join(dd, victim))
    for f in os.listdir(ld):
        if f.startswith(f"bucket-{b:05d}"):
            os.remove(os.path.join(ld, f))
    with open(os.path.join(ld, f"bucket-{b:05d}-crashed.json.tmp"), "w") as f:
        f.write('{"bucket": %d, "rows_in"' % b)

    assert b not in lineage.completed_buckets(spark, str(out))
    s2 = _run(spark, transcripts_df, ref_orders_df, out, run_id="r2")
    assert s2["buckets_done"] == 1
    assert os.path.isdir(os.path.join(dd, victim))


def test_commit_starts_no_bookkeeping_jobs(spark, transcripts_df, ref_orders_df, tmp_path):
    """A fresh 64-bucket commit starts at most the stats aggregate's two
    jobs beyond writing the same plan to the noop sink: no lineage scan,
    no schema-inference job, no partition-listing job (more than 32
    bucket dirs, Spark's default parallel-listing threshold). Reading the
    committed buckets back starts no job at all."""
    out = str(tmp_path / "ckpt7")
    with _spark_jobs(spark) as noop_jobs:
        pipeline.run_pipeline(transcripts_df, ref_orders_df, salt=True).write.format(
            "noop"
        ).mode("overwrite").save()
    with _spark_jobs(spark) as ckpt_jobs:
        s = _run(spark, transcripts_df, ref_orders_df, out, n_buckets=64)
    assert s["buckets_done"] > 32
    assert len(ckpt_jobs) <= len(noop_jobs) + 2, (noop_jobs, ckpt_jobs)

    with _spark_jobs(spark) as cb_jobs:
        assert len(lineage.completed_buckets(spark, out)) == s["buckets_done"]
    assert cb_jobs == []
