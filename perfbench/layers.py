"""Per-layer probes for the traced run.

Each layer is timed from outside, through its public functions. The
transcript layers are forced as successive prefixes of the flagship plan,
each through a noop sink under its own span (so its own job group):

    scan -> extract_turns -> repartition_salted -> run_pipeline
         -> run_with_checkpoint

and a layer's self time is the difference between consecutive prefixes.
``core`` is timed in-process on a fixed sample of each payload kind.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import statistics
import time

from pyspark.sql import functions as F

from work_order_pdf_extractor_spark.core.extractor import extract_turn
from work_order_pdf_extractor_spark.operators.extract import extract_turns
from work_order_pdf_extractor_spark.plans import lineage, pipeline, skew
from work_order_pdf_extractor_spark.sources import transcripts as sources

from corpus import tree_files

N_BUCKETS = lineage.DEFAULT_N_BUCKETS  # as main.py runs it
CORE_SAMPLE = 300
PREFIX_ROUNDS = 2
KINDS = {"pdf_reader": "pdf", "browser": "html"}


def payload_kind(tool: str | None) -> str:
    return KINDS.get(tool, "plain")


def resume_half(out_dir: str, seed: int) -> tuple[int, int]:
    """Delete a seed-chosen half of the committed buckets and their lineage
    rows, as a crash after half the commits would leave them. Returns the
    buckets kept and deleted."""
    data = os.path.join(out_dir, "data")
    committed = sorted(int(n.split("=", 1)[1]) for n in os.listdir(data))
    gone = random.Random(seed).sample(committed, len(committed) // 2)
    for b in gone:
        shutil.rmtree(os.path.join(data, f"bucket={b}"))
        for f in glob.glob(os.path.join(out_dir, "_lineage", f"bucket-{b:05d}-*.json")):
            os.remove(f)
    return len(committed) - len(gone), len(gone)


def core_layer(frame, slots: int) -> dict:
    """In-process ``extract_turn`` cost per payload kind, and the work the
    whole corpus implies spread over ``slots`` task slots."""
    kinds = frame["tool"].map(payload_kind)
    out, work_s, failed, sampled = {}, 0.0, 0, 0
    for kind in ("pdf", "html", "plain"):
        rows = frame[kinds == kind]
        sample = rows.head(CORE_SAMPLE)
        t0 = time.perf_counter()
        results = [extract_turn(t, tl) for t, tl in zip(sample["text"], sample["tool"])]
        us = (time.perf_counter() - t0) / max(len(sample), 1) * 1e6
        out[f"core.{kind}_us_per_turn"] = us
        work_s += len(rows) * us / 1e6
        failed += sum(r["status"] != "ok" for r in results)
        sampled += len(sample)
    out["core.work_s"] = work_s / slots
    out["core.failed_share"] = failed / max(sampled, 1)
    return out


def transcript_layers(spark, tracer, corpus, out_dir: str, parent: dict) -> dict:
    """Prefix probes over the corpus; returns the per-layer metrics. The
    noop prefixes are short, so each is the median of ``PREFIX_ROUNDS``."""
    t = sources.read_transcripts(spark, corpus.transcripts_path)
    ref = sources.read_reference_orders(spark, corpus.reference_path)
    prefixes = {
        "sources.transcripts": lambda: t,
        "operators.extract": lambda: extract_turns(t),
        "plans.skew.census": lambda: skew.conversation_lengths(t.select("conv_id")).filter(
            F.col("n_turns") >= skew.DEFAULT_WHALE_THRESHOLD
        ),
        "plans.skew": lambda: skew.repartition_salted(extract_turns(t), lengths_source=t),
        "plans.pipeline": lambda: pipeline.run_pipeline(t, ref),
    }
    spans: dict[str, list[dict]] = {name: [] for name in prefixes}
    for _ in range(PREFIX_ROUNDS):
        for name, make in prefixes.items():
            df = make()
            with tracer.span(name, parent) as s:
                df.write.format("noop").mode("overwrite").save()
            spans[name].append(s)
    d = {name: statistics.median(_dur(s) for s in ss) for name, ss in spans.items()}

    shutil.rmtree(out_dir, ignore_errors=True)
    with tracer.span("plans.lineage", parent) as ckpt:
        lineage.run_with_checkpoint(spark, t, ref, out_dir, n_buckets=N_BUCKETS)
    files = tree_files(out_dir)
    with tracer.span("plans.lineage.completed_buckets", parent) as cb:
        lineage.completed_buckets(spark, out_dir)
    expected = resume_half(out_dir, corpus.seed)
    with tracer.span("plans.lineage.resume", parent) as resume:
        summary = lineage.run_with_checkpoint(spark, t, ref, out_dir, n_buckets=N_BUCKETS)
    if (summary["buckets_skipped"], summary["buckets_done"]) != expected:
        raise RuntimeError(f"resume should skip/commit {expected} buckets: {summary}")

    salted = spans["plans.skew"]
    return {
        "sources.scan_s": d["sources.transcripts"],
        "extract.wall_s": d["operators.extract"] - d["sources.transcripts"],
        "skew.census_s": d["plans.skew.census"],
        "skew.salt_s": d["plans.skew"] - d["operators.extract"],
        "skew.shuffle_write_bytes": statistics.median(
            s["spark"]["shuffle_write_bytes"] for s in salted
        ),
        "skew.task_skew": statistics.median(_last_stage_skew(tracer, s) for s in salted),
        "pipeline.wall_s": d["plans.pipeline"],
        "pipeline.join_s": d["plans.pipeline"] - d["plans.skew"],
        "lineage.commit_s": _dur(ckpt) - d["plans.pipeline"],
        "lineage.files_written": files,
        "lineage.completed_buckets_s": _dur(cb),
        "lineage.resume_ratio": _dur(resume) / _dur(ckpt),
    }


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _last_stage_skew(tracer, span: dict) -> float:
    """Max over median task time of the last stage that ran more than one
    task: the stage that reads the salted shuffle."""
    skews = [
        st["task_run_s_max_median"]
        for job in tracer.children(span)
        for st in job["stages"]
        if st["task_run_s_max_median"] is not None
    ]
    return skews[-1] if skews else 1.0
