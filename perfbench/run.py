#!/usr/bin/env python3
"""Benchmark of the checkpointed extraction job and the operator library.

Run from the repository root:

    python3 perfbench/run.py --workload mixed_ckpt --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``mixed_ckpt``: one fresh ``lineage.run_with_checkpoint`` per timed call,
  64 buckets as in ``main.py``, over a seeded corpus in the production
  payload mix. Every call's committed rows are fingerprinted and compared
  with ``oracle.extract_goldens`` for the same corpus.
- ``library_sf0.01``: a fixed sequence of ``queries.REGISTRY`` queries over
  the fixed tables in ``perfbench/data/sf0.01``; each is checked once per
  session against its DuckDB oracle SQL, and every timed run's result must
  keep that row count and fingerprint. The seed does not apply.

After one untimed warm-up call the run makes timed calls until
``--seconds`` have passed, and at least two.

The session runs on ``local[nproc]`` in this one driver process. Set-up
(session start, fixture load and one warm-up call) is timed
as ``setup_s``; input generation and the golden and oracle computations
are not. With ``--trace 0`` the last stdout line carries the end-to-end
metrics; with ``--trace 1`` it carries the per-layer metrics, and a JSON
trace is written under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "work_order_pdf_extractor_spark"
WORK = os.path.join(HERE, ".work")
CACHE = os.path.join(WORK, "cache")
TMP = os.path.join(WORK, "tmp")
SPARK_LOCAL = os.path.join(WORK, "spark-local")
LIBRARY_OUT = os.path.join(WORK, "out", "library")
DRIVER_MEM = "3g"  # session.get_spark defaults to 16g, more than a 15 GB box

WORKLOADS = ("mixed_ckpt", "library_sf0.01")
LIBRARY_QUERIES = (
    "lsh_pair_quality",
    "dedup_near_materialize",
    "cosine_topk",
)
# The first call in a fresh JVM is 2-3x slower than later ones, and later
# calls keep drifting down for five or more calls, longer than a run of this
# size can wait. So set-up ends after one untimed call, and the timed calls
# start at the second, at the same point of the JVM's warm-up in every run.
# There are at least two, so a slow spell cannot shrink a run's sample.
MIN_TIMED_CALLS = 2


def sandbox(cores: int) -> None:
    """Keep every file and process setting of the run inside the checkout."""
    for d in (CACHE, TMP, SPARK_LOCAL):
        os.makedirs(d, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    # Python workers import the package, so it must be on their path too
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = SPARK_LOCAL
    os.environ["TMPDIR"] = TMP
    # every JVM, the launcher's too: temp files inside the checkout and no
    # hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData"
    sys.path[1:1] = [ROOT]


def spark_conf() -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": SPARK_LOCAL,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # a heap committed at its full size from the start: otherwise the
        # JVM's resident size follows G1's adaptive sizing and varies
        # between identical runs by up to half
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
    }


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> tuple[float, dict]:
    """Sum of peak resident memory (VmHWM) of this process and every process
    below it: the driver JVM, the Python worker daemon and its workers.
    Also returns each process's share, keyed by command name and pid."""
    per_process = {}
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        per_process[f"{name}:{pid}"] = int(line.split()[1]) / 1024.0
        except OSError:
            continue
    return sum(per_process.values()), per_process


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until every process below this one
    is gone. The Python worker daemon is the JVM's child, so the list is
    taken before the JVM exits and orphans them."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)

    def alive() -> list[int]:
        return [pid for pid in started if os.path.exists(f"/proc/{pid}")]

    deadline = time.time() + 30
    while alive() and time.time() < deadline:
        time.sleep(0.2)
    for pid in alive():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while alive() and time.time() < deadline + 10:
        time.sleep(0.2)


def quartiles(values: list[float]) -> dict:
    if len(values) > 1:
        q1, q2, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q2 = q3 = values[0]
    return {"median": q2, "q1": q1, "q3": q3, "n": len(values)}


class Run:
    """Counters shared by the workload runners."""

    def __init__(self, spark, tracer, seconds: float):
        self.spark = spark
        self.tracer = tracer
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.check_s = 0.0  # golden/oracle work done during set-up

    def record_failure(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 10:
            self.errors.append(what)

    def timed_loop(self, call) -> list[float]:
        """Run ``call`` (which returns its wall seconds or raises) until
        the measuring window is over, and at least MIN_TIMED_CALLS times, so
        a slow spell cannot change how much work a run measures. Every call
        is one attempt."""
        walls: list[float] = []
        end = time.perf_counter() + self.seconds
        while self.attempted < MIN_TIMED_CALLS or time.perf_counter() < end:
            self.attempted += 1
            try:
                walls.append(call())
            except Exception as e:  # a failed run is counted, not fatal
                self.record_failure(f"{type(e).__name__}: {e}"[:300])
        return walls


def run_mixed_ckpt(run: Run, root: dict, seed: int) -> dict:
    import checks
    from corpus import Corpus, parquet_rows, tree_bytes
    from layers import N_BUCKETS
    from work_order_pdf_extractor_spark.plans import lineage
    from work_order_pdf_extractor_spark.sources import transcripts as sources

    spark = run.spark
    corpus = Corpus(CACHE, seed)
    corpus.write()

    t0 = time.perf_counter()
    t = sources.read_transcripts(spark, corpus.transcripts_path)
    ref = sources.read_reference_orders(spark, corpus.reference_path)
    load_s = time.perf_counter() - t0
    n_turns = parquet_rows(corpus.transcripts_path)

    out = os.path.join(WORK, "out", "mixed_ckpt")
    sizes: list[int] = []
    last: dict = {}

    def call(parent=None) -> float:
        shutil.rmtree(out, ignore_errors=True)
        with run.tracer.span("timed_call" if parent else "warmup_call", parent):
            t0 = time.perf_counter()
            last.update(lineage.run_with_checkpoint(spark, t, ref, out, n_buckets=N_BUCKETS))
            wall = time.perf_counter() - t0
        return wall

    def checked_call() -> float:
        wall = call(root)
        if (last["buckets_done"], last["buckets_skipped"]) != (buckets, 0):
            raise RuntimeError(f"expected {buckets} fresh bucket commits: {last}")
        fp = checks.fingerprint(lineage.read_output(spark, out))
        if fp != golden:
            raise RuntimeError(f"output fingerprint {fp} != golden {golden}")
        sizes.append(tree_bytes(os.path.join(out, "data")))
        return wall

    warm_s = call()
    # after the warm-up, so the golden's own Spark job does not warm the JVM
    # inside set-up
    c0 = time.perf_counter()
    golden = checks.golden_fingerprint(spark, corpus, CACHE, N_BUCKETS)
    buckets = golden.pop("buckets")
    run.check_s += time.perf_counter() - c0
    walls = run.timed_loop(checked_call)
    in_bytes = corpus.input_bytes()
    return {
        "load_s": load_s,
        "warmup_s": warm_s,
        "walls": walls,
        "rows": n_turns,
        "out_bytes": sizes,
        "in_bytes": in_bytes,
        "corpus": corpus,
    }


def run_library(run: Run, root: dict, seed: int) -> dict:
    import pandas as pd

    import checks
    from corpus import LIBRARY_DIR, LIBRARY_TABLES, parquet_rows, tree_bytes
    from work_order_pdf_extractor_spark.queries import REGISTRY

    table_rows = {
        name: parquet_rows(os.path.join(LIBRARY_DIR, f"{name}.parquet"))
        for name in LIBRARY_TABLES
    }
    reads = {q: query_tables(REGISTRY[q][1]) for q in LIBRARY_QUERIES}
    expected: dict[str, str] = {}
    oracle_bad: list[str] = []
    per_query: dict[str, list[float]] = {q: [] for q in LIBRARY_QUERIES}
    sizes: list[int] = []

    def one(name: str, parent) -> tuple[float, pd.DataFrame]:
        wall = run_query(run, name, parent)
        return wall, pd.read_parquet(os.path.join(LIBRARY_OUT, name))

    def first_sweep() -> float:
        total = 0.0
        for name in LIBRARY_QUERIES:
            wall, result = one(name, None)
            total += wall
            c0 = time.perf_counter()
            why = checks.check_against_oracle(
                result, REGISTRY[name][1], LIBRARY_DIR, reads[name]
            )
            if why is not None:
                oracle_bad.append(name)
                run.errors.append(f"{name} differs from its DuckDB oracle: {why}"[:300])
            expected[name] = checks.frame_fingerprint(result)
            run.check_s += time.perf_counter() - c0
        return total

    def sweep() -> float:
        total, size, bad = 0.0, 0, []
        with run.tracer.span("timed_call", root) as span:
            results = []
            for name in LIBRARY_QUERIES:
                wall, result = one(name, span)
                total += wall
                per_query[name].append(wall)
                size += tree_bytes(os.path.join(LIBRARY_OUT, name))
                results.append((name, result))
        for name, result in results:
            if checks.frame_fingerprint(result) != expected[name]:
                bad.append(name)
        if oracle_bad:
            raise RuntimeError(f"results differ from the DuckDB oracle: {oracle_bad}")
        if bad:
            raise RuntimeError(f"results changed between runs: {bad}")
        sizes.append(size)
        return total

    warm_s = first_sweep()
    walls = run.timed_loop(sweep)
    in_bytes = sum(
        tree_bytes(os.path.join(LIBRARY_DIR, f"{t}.parquet"))
        for q in LIBRARY_QUERIES
        for t in reads[q]
    )
    rows = sum(table_rows[t] for q in LIBRARY_QUERIES for t in reads[q])
    return {
        "load_s": 0.0,  # the queries read their own tables
        "warmup_s": warm_s,
        "walls": walls,
        # the sum of per-query medians is steadier than the median sweep
        "wall_s": sum(statistics.median(v) for v in per_query.values() if v)
        if all(per_query.values()) else None,
        "per_query": per_query,
        "rows": rows,
        "out_bytes": sizes,
        "in_bytes": in_bytes,
    }


def run_query(run: Run, name: str, parent) -> float:
    """Run one library query into its own parquet directory under its own
    span; returns the wall seconds. Cached blocks are dropped afterwards so
    one query's storage does not press on the next."""
    from corpus import LIBRARY_DIR
    from work_order_pdf_extractor_spark.queries import REGISTRY

    out = os.path.join(LIBRARY_OUT, name)
    shutil.rmtree(out, ignore_errors=True)
    with run.tracer.span(f"query.{name}", parent):
        t0 = time.perf_counter()
        REGISTRY[name][0](run.spark, LIBRARY_DIR).write.parquet(out)
        wall = time.perf_counter() - t0
    run.spark.catalog.clearCache()
    return wall


def query_tables(sql: str) -> list[str]:
    from corpus import LIBRARY_TABLES

    return [t for t in LIBRARY_TABLES if t in sql]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package next to {HERE}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    sandbox(cores)

    from spans import Tracer
    from work_order_pdf_extractor_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cores=cores, extra_conf=spark_conf())
    start_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        run = Run(spark, tracer, args.seconds)
        root = {"id": 0, "name": args.workload, "start": time.time()}
        runner = run_mixed_ckpt if args.workload == "mixed_ckpt" else run_library
        res = runner(run, root, args.seed)
        root["end"] = time.time()
        peak, rss_by_process = peak_rss_mb()
        layers_out, hw = (
            traced_layers(run, res, root, args.seed, start_s, cores)
            if args.trace else (None, None)
        )
    finally:
        stop_session(spark)

    walls = res["walls"]
    correct = bool(walls) and run.failed == 0
    wall_s = res.get("wall_s") or (statistics.median(walls) if walls else float("nan"))
    setup_s = start_s + res["load_s"] + res["warmup_s"]
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "driver_mem": DRIVER_MEM,
        "setup": {"start_s": start_s, "load_s": res["load_s"], "warmup_s": res["warmup_s"]},
        "wall_s": quartiles(walls) if walls else None,
        "per_query_s": {q: quartiles(v) for q, v in res.get("per_query", {}).items() if v},
        "walls": walls,
        "rss_mb_by_process": rss_by_process,
        "check_s": run.check_s,
        "errors": run.errors,
        "hw_probe": hw,
    }
    if args.trace:
        metrics = layers_out
    else:
        metrics = {
            "rows_per_s": (res["rows"] / wall_s, "1/s"),
            "wall_s": (wall_s, "s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (peak, "MB"),
            "out_bytes_per_in_byte": (
                statistics.median(res["out_bytes"]) / res["in_bytes"]
                if res["out_bytes"] else float("nan"), "ratio"),
        }
    print(json.dumps(report))
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


def traced_layers(
    run: Run, res: dict, root: dict, seed: int, start_s: float, cores: int
) -> tuple[dict, dict]:
    """Per-layer metrics for the traced run and ``bench._hw_probe()``'s
    reading; also writes the trace file."""
    import layers
    from corpus import Corpus

    tracer = run.tracer
    calls = [s for s in tracer.spans if s["name"] == "timed_call" and s["parent"] == root["id"]]
    per_call = [tracer.spark_totals(c) for c in calls]
    spark_totals = {k: statistics.median(c[k] for c in per_call) for k in per_call[0]} if per_call else {}

    corpus = res.get("corpus") or Corpus(CACHE, seed)
    corpus.write()
    probe = {"id": -1, "name": "layer_probes", "start": time.time()}
    if "corpus" not in res:
        # untimed warm-up of the transcript path before its probes
        run_transcript_warmup(run, corpus)
    out = layers.transcript_layers(
        run.spark, tracer, corpus, os.path.join(WORK, "out", "probe"), probe
    )
    out.update(layers.core_layer(corpus.frame(), cores))
    out["extract.boundary_s"] = out["extract.wall_s"] - out["core.work_s"]

    per_query = res.get("per_query")
    if per_query is None:
        per_query = library_probe(run, probe)
    measured = {probe["id"], *(c["id"] for c in calls)}
    for name in LIBRARY_QUERIES:
        spans = [
            s for s in tracer.spans
            if s["name"] == f"query.{name}" and s["parent"] in measured
        ]
        out[f"query.{name}.wall_s"] = statistics.median(per_query[name])
        out[f"query.{name}.jobs"] = statistics.median(s["spark"]["jobs"] for s in spans)
        out[f"query.{name}.shuffle_write_bytes"] = statistics.median(
            s["spark"]["shuffle_write_bytes"] for s in spans
        )
    probe["end"] = time.time()

    out["session.start_s"] = start_s
    out["session.warmup_s"] = res["warmup_s"]
    for k, v in spark_totals.items():
        out[f"spark.{k}"] = v
    out["trace.overhead_s"] = statistics.median(tracer.overhead_s)

    import bench  # only its machine-speed probe; its default mode is never run

    hw = bench._hw_probe()
    tracer.spans[:0] = [root, probe]
    tracer.write(
        os.path.join(WORK, f"trace-{root['name']}-{seed}.json"),
        {"workload": root["name"], "seed": seed, "hw_probe": hw, "metrics": out},
    )
    units = {
        "_s": "s", "_us_per_turn": "us", "_bytes": "bytes", "_share": "ratio",
        "_ratio": "ratio", "_skew": "ratio",
    }
    metrics = {
        k: (v, next((u for suf, u in units.items() if k.endswith(suf)), "count"))
        for k, v in sorted(out.items())
    }
    return metrics, hw


def run_transcript_warmup(run: Run, corpus) -> None:
    from layers import N_BUCKETS
    from work_order_pdf_extractor_spark.plans import lineage
    from work_order_pdf_extractor_spark.sources import transcripts as sources

    out = os.path.join(WORK, "out", "probe-warmup")
    shutil.rmtree(out, ignore_errors=True)
    lineage.run_with_checkpoint(
        run.spark,
        sources.read_transcripts(run.spark, corpus.transcripts_path),
        sources.read_reference_orders(run.spark, corpus.reference_path),
        out,
        n_buckets=N_BUCKETS,
    )


def library_probe(run: Run, parent: dict) -> dict[str, list[float]]:
    """One traced pass over the library queries (transcript workloads)."""
    return {name: [run_query(run, name, parent)] for name in LIBRARY_QUERIES}


if __name__ == "__main__":
    sys.exit(main())
