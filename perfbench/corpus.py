"""Seeded benchmark corpora, cached by (seed, size).

A corpus is a pages table (``schemas.PAGES``) whose rows are rendered by
the package's own generator (``grammar.render_rows``: Zipf-hot log
templates over ~100 hosts), so it is a pure function of its seed.  The
batch table is written by ``sources.pages.generate_and_write``; the
stream corpus is the same kind of rows cut into seq_no-ordered parquet
files.  The engine only ever sees the written tables.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

PAGE_COLS = ["url", "warc_ts", "html", "text", "lang", "host", "seq_no"]

ARROW_PAGES = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ("host", pa.string()), ("seq_no", pa.int64()),
])

# 8 buckets: 50,000 rows per file at 400k rows, read as one scan task per core
N_BUCKETS = 8


@dataclass
class Corpus:
    seed: int
    rows: int
    hosts: int
    dir: str                # cache dir of this corpus

    @property
    def pages_path(self) -> str:
        return os.path.join(self.dir, "pages")

    @property
    def files_path(self) -> str:
        return os.path.join(self.dir, "files")


def corpus_for(cache: str, seed: int, rows: int, hosts: int) -> Corpus:
    return Corpus(seed, rows, hosts,
                  os.path.join(cache, f"logs-s{seed}-n{rows}-h{hosts}"))


def fingerprint(pdf: pd.DataFrame) -> str:
    """Content hash of a pages frame, independent of row order."""
    cols = [c for c in PAGE_COLS if c != "html"]
    df = pdf[cols].sort_values("seq_no").reset_index(drop=True)
    ts = pd.to_datetime(df["warc_ts"], utc=True).astype("datetime64[us, UTC]")
    df = df.assign(warc_ts=ts.astype("int64"))
    h = pd.util.hash_pandas_object(df, index=False).to_numpy()
    return hashlib.md5(h.tobytes()).hexdigest()


# -- row generators (pure functions of the seed) -------------------------

def logs_frame(seed: int, rows: int, hosts: int,
               start: int = 0) -> pd.DataFrame:
    """Rows ``start .. start+rows-1`` of the logs corpus — the same
    per-row kernel ``sources.pages.generate_and_write`` runs."""
    from ai_log_analyzer_spark import grammar
    return grammar.render_rows(np.arange(start, start + rows), seed=seed,
                               n_hosts=hosts)


# -- materialization -----------------------------------------------------

def _done(c: Corpus, what: str) -> bool:
    return os.path.exists(os.path.join(c.dir, f"_DONE_{what}"))


def _mark(c: Corpus, what: str) -> None:
    with open(os.path.join(c.dir, f"_DONE_{what}"), "w") as f:
        f.write("ok\n")


def ensure_pages(spark, c: Corpus) -> str:
    """Write the batch pages table once per (seed, size)."""
    from ai_log_analyzer_spark.sources import pages as P

    if not _done(c, "pages"):
        os.makedirs(c.dir, exist_ok=True)
        P.generate_and_write(spark, c.pages_path, c.rows, seed=c.seed,
                             n_buckets=N_BUCKETS, n_hosts=c.hosts)
        _mark(c, "pages")
    return c.pages_path


def read_pages(pages_path: str) -> pd.DataFrame:
    """The written batch table as pandas, in seq_no order."""
    t = ds.dataset(pages_path, format="parquet",
                   partitioning="hive").to_table(columns=PAGE_COLS)
    return t.to_pandas().sort_values("seq_no").reset_index(drop=True)


def ensure_files(c: Corpus, n_files: int) -> list[str]:
    """Cut the logs corpus into ``n_files`` equal seq_no-ordered parquet
    files (written once); returns their paths in landing order."""
    paths = [os.path.join(c.files_path, f"{i:05d}.parquet")
             for i in range(n_files)]
    if not _done(c, "files"):
        shutil.rmtree(c.files_path, ignore_errors=True)
        os.makedirs(c.files_path)
        per = c.rows // n_files
        for i, p in enumerate(paths):
            pdf = logs_frame(c.seed, per, c.hosts, start=i * per)
            pq.write_table(pa.Table.from_pandas(pdf[PAGE_COLS],
                                                schema=ARROW_PAGES,
                                                preserve_index=False), p)
        _mark(c, "files")
    return paths


def distinct_forms(texts: pd.Series) -> int:
    """Distinct masked forms of a text column (the package's masking)."""
    from ai_log_analyzer_spark import masking
    return int(masking.mask_series(texts).nunique())


def read_files(paths: list[str]) -> pd.DataFrame:
    t = pa.concat_tables([pq.read_table(p) for p in paths])
    return t.to_pandas().sort_values("seq_no").reset_index(drop=True)
