"""Per-partition checkpoint + lineage + idempotent resume (north rule; M5).

The reference's "exactly once" is destructive: a processed file is renamed
away, so a rerun silently skips it (``work_order_extractor.py:1769-1797``).
Here the same guarantee is data-engineering-grade:

- input is hashed into ``n_buckets`` stable buckets on ``conv_id``
  (``pmod(xxhash64(conv_id), n)``) — the checkpoint/commit unit, playing
  the role of an Iceberg partition commit in the sandbox's
  parquet-directory fallback (SURVEY §4, §7 risk 4);
- one Spark job processes ALL incomplete buckets (no per-bucket job loop —
  at 1000 executors a bucket-at-a-time driver loop would serialize the
  cluster), writing ``partitionBy("bucket")`` into a temp dir;
- per-bucket stats come from ONE distributed aggregate over the files just
  written, read with the result's own schema (no footer job) and listed on
  the driver (the session's partition-discovery threshold keeps a
  ``bucket=`` listing out of a Spark job);
- each bucket directory is then atomically renamed into the final layout
  and a lineage row ``(bucket, rows_in, rows_out, n_failed,
  input_fingerprint, run_id)`` is appended — rename BEFORE lineage, so a
  crash between the two leaves a visible-but-unrecorded bucket that resume
  repairs WITHOUT reprocessing;
- resume reads the lineage rows on the driver (the driver wrote them, one
  small JSON line per bucket — no Spark job) and filters completed buckets
  out of the input before the expensive UDF runs.

:func:`commit_buckets` is that write → stats → rename → lineage protocol,
shared with ``plans.ingest``.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.pdfparse import DEFAULT_CROP
from .pipeline import run_pipeline

DEFAULT_N_BUCKETS = 64


def bucket_col(n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


def _lineage_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_lineage")


def _data_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "data")


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame | None:
    ld = _lineage_dir(out_dir)
    if not os.path.isdir(ld) or not any(
        f.endswith(".json") for f in os.listdir(ld)
    ):
        return None
    return spark.read.json(os.path.join(ld, "*.json"))


def completed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    """Bucket ids with a lineage row or a committed ``bucket=`` dir. Runs
    on the driver only: a ``.json.tmp`` left by a crash mid-append is not
    a lineage row."""
    recorded: set[int] = set()
    ld = _lineage_dir(out_dir)
    if os.path.isdir(ld):
        for name in os.listdir(ld):
            if name.endswith(".json"):
                with open(os.path.join(ld, name)) as f:
                    recorded.update(int(json.loads(ln)["bucket"]) for ln in f if ln.strip())
    # repair pass: bucket dirs that were renamed into place but whose
    # lineage append was lost in a crash count as complete too
    dd = _data_dir(out_dir)
    if os.path.isdir(dd):
        for name in os.listdir(dd):
            if name.startswith("bucket="):
                recorded.add(int(name.split("=", 1)[1]))
    return recorded


def _append_lineage_row(out_dir: str, row: dict) -> None:
    ld = _lineage_dir(out_dir)
    os.makedirs(ld, exist_ok=True)
    path = os.path.join(ld, f"bucket-{row['bucket']:05d}-{row['run_id']}.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(json.dumps(row) + "\n")
    os.replace(tmp, path)  # atomic on POSIX


def commit_buckets(
    spark: SparkSession,
    result: DataFrame,
    out_dir: str,
    run_id: str | None,
    done: set[int],
    stats: dict[str, F.Column],
) -> dict:
    """Commit ``result`` (which carries an int ``bucket`` column) bucket by
    bucket: write it ``partitionBy("bucket")`` into a temp dir, compute
    the ``stats`` aggregates (lineage field → integer aggregate) per
    bucket in one job over the written files, then rename each new
    bucket dir into place and append its lineage row ``{"bucket",
    **stats, "run_id"}``. ``done`` is the set of buckets resume skipped.
    Returns the run summary."""
    run_id = run_id or uuid.uuid4().hex[:12]
    tmp_dir = os.path.join(out_dir, f"_tmp-{run_id}")
    result.write.mode("overwrite").partitionBy("bucket").parquet(tmp_dir)
    names = sorted(n for n in os.listdir(tmp_dir) if n.startswith("bucket="))
    # the result's own schema means no footer job; the driver lists the
    # bucket dirs (session partition-discovery threshold)
    rows = (
        spark.read.schema(result.schema).parquet(tmp_dir)
        .groupBy("bucket")
        .agg(*(agg.alias(k) for k, agg in stats.items()))
        .collect()
    ) if names else []
    stats_by_bucket = {int(r["bucket"]): r for r in rows}

    dd = _data_dir(out_dir)
    os.makedirs(dd, exist_ok=True)
    done_now = 0
    for name in names:
        b = int(name.split("=", 1)[1])
        final = os.path.join(dd, name)
        if os.path.exists(final):  # already committed by a racing/prior run
            continue
        os.replace(os.path.join(tmp_dir, name), final)  # atomic rename first
        fields = {k: int(stats_by_bucket[b][k]) for k in stats}
        _append_lineage_row(out_dir, {"bucket": b, **fields, "run_id": run_id})
        done_now += 1
    shutil.rmtree(tmp_dir, ignore_errors=True)
    return {
        "run_id": run_id,
        "buckets_total": len(completed_buckets(spark, out_dir)),
        "buckets_skipped": len(done),
        "buckets_done": done_now,
    }


def run_with_checkpoint(
    spark: SparkSession,
    transcripts: DataFrame,
    reference_orders: DataFrame,
    out_dir: str,
    n_buckets: int = DEFAULT_N_BUCKETS,
    crop: tuple = DEFAULT_CROP,
    run_id: str | None = None,
) -> dict:
    """Process all not-yet-committed buckets; returns a summary dict
    ``{"run_id", "buckets_total", "buckets_skipped", "buckets_done"}``.
    Safe to re-invoke after any crash; a fully committed output is a
    no-op rerun (idempotency property test in the suite)."""
    done = completed_buckets(spark, out_dir)
    todo = transcripts.filter(~bucket_col(n_buckets).isin(sorted(done))) if done else transcripts

    # one job for every remaining bucket; salting happens inside run_pipeline
    result = run_pipeline(
        todo, reference_orders, crop=crop, salt=True
    ).withColumn("bucket", bucket_col(n_buckets)).withColumn(
        # order-insensitive per-bucket input fingerprint (input-snapshot id)
        "row_fp", F.xxhash64("conv_id", "turn_idx")
    )
    return commit_buckets(
        spark,
        result,
        out_dir,
        run_id,
        done,
        {
            "rows_in": F.count("*"),
            "rows_out": F.count("*"),
            "n_failed": F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)),
            "input_fingerprint": F.expr("bit_xor(row_fp)"),
        },
    )


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """The committed result table (all buckets)."""
    return spark.read.parquet(_data_dir(out_dir))
