"""Seeded inputs for the benchmark workloads.

The transcript corpus uses the production fixture mix of
``fixtures.gen_transcripts`` (30% PDF with 5% malformed, 25% HTML, 45% plain)
at a size that fits a 4-slot sandbox: about 6k turns, two of them whale
conversations above the 1000-turn salt threshold so the salted shuffle runs.
The program only ever sees the parquet written here.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pyarrow.parquet as pq

from work_order_pdf_extractor_spark import fixtures
from work_order_pdf_extractor_spark.plans import skew

SCALE = "perfbench"
N_CONVS = 300
N_WHALES = 2
WHALE_TURNS = skew.DEFAULT_WHALE_THRESHOLD + 300
N_FILES = 16

# gen_transcripts takes its size from the SCALES table; registering the
# benchmark's size there keeps the payload mix identical to the fixtures'.
fixtures.SCALES.setdefault(SCALE, (N_CONVS, [(N_WHALES, WHALE_TURNS)]))

LIBRARY_TABLES = ("documents", "embeddings", "customer")
LIBRARY_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


class Corpus:
    """A generated transcript corpus and its parquet files."""

    def __init__(self, cache_dir: str, seed: int):
        self.seed = seed
        self.dir = os.path.join(cache_dir, f"corpus-{seed}")
        self.transcripts_path = os.path.join(self.dir, "transcripts")
        self.reference_path = os.path.join(self.dir, "reference_orders.parquet")
        self._frame: pd.DataFrame | None = None

    def frame(self) -> pd.DataFrame:
        if self._frame is None:
            self._frame = fixtures.gen_transcripts(SCALE, self.seed)
        return self._frame

    def reference(self) -> pd.DataFrame:
        return fixtures.gen_reference_orders(self.seed)

    def write(self) -> None:
        """Write the parquet inputs once per seed (the same seed gives the
        same bytes, so a cached copy is reused)."""
        if os.path.isdir(self.transcripts_path):
            return
        df = self.frame()
        tmp = self.dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "transcripts"))
        step = -(-len(df) // N_FILES)
        for i in range(N_FILES):
            df.iloc[i * step : (i + 1) * step].to_parquet(
                os.path.join(tmp, "transcripts", f"part-{i:05d}.parquet"),
                index=False,
                row_group_size=2048,
            )
        self.reference().to_parquet(
            os.path.join(tmp, "reference_orders.parquet"), index=False
        )
        shutil.rmtree(self.dir, ignore_errors=True)
        os.replace(tmp, self.dir)

    def input_bytes(self) -> int:
        return tree_bytes(self.transcripts_path)


def tree_bytes(path: str) -> int:
    """Bytes of the regular files under ``path`` (a file or a directory)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def parquet_rows(path: str) -> int:
    """Row count from the parquet footers, without a Spark job."""
    files = [path] if os.path.isfile(path) else [
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    ]
    return sum(pq.read_metadata(f).num_rows for f in files)


def tree_files(path: str) -> int:
    return sum(len(files) for _d, _s, files in os.walk(path))
