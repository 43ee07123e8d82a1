"""Reference outputs from the single-process oracle, and the checks that
compare every benchmark run's outputs against them.

A reference is computed once per corpus (``oracle.pipeline.run`` over
the exact table the engine reads) and cached next to the corpus:

- per-severity (n_rows, n_urls) counts;
- a hash of the routed row set over (host, seq_no, severity);
- a hash of the per-url ``extracted_text`` (the byte-identical parse
  invariant);
- for streams, the scored rows themselves, so decisions can be compared
  exactly and scores within the float32-GEMM tolerance that
  tests/test_streaming_stateful.py uses;
- the oracle's own wall time, as the single-process baseline.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

import numpy as np
import pandas as pd

# same tolerance as tests/test_streaming_stateful.py
SCORE_RTOL = 1e-5
SCORE_ATOL = 1e-7
DECISION_COLS = ["template_id", "label_id", "is_anomaly"]
_NULL = "\x00null"


def _frame_hash(df: pd.DataFrame) -> str:
    """Order-free hash of a row multiset: one 64-bit hash per row,
    sorted, then digested."""
    norm = {}
    for c in df.columns:
        col = df[c]
        if c in ("seq_no", "template_id", "label_id"):
            norm[c] = col.astype("int64").to_numpy()
        else:
            norm[c] = col.astype(object).where(col.notna(), _NULL) \
                .astype(str).to_numpy(dtype=object)
    h = pd.util.hash_pandas_object(pd.DataFrame(norm), index=False,
                                   categorize=False).to_numpy()
    h.sort()
    return hashlib.md5(h.tobytes()).hexdigest()


def routed_hash(df: pd.DataFrame) -> str:
    return _frame_hash(df[["host", "seq_no", "severity"]])


def extracted_hash(df: pd.DataFrame) -> str:
    return _frame_hash(df[["url", "extracted_text"]])


def _counts(rows) -> dict:
    return {str(r["severity"]): [int(r["n_rows"]), int(r["n_urls"])]
            for r in rows}


def reference_path(ref_dir: str) -> str:
    return os.path.join(ref_dir, "reference.json")


def ensure_reference(ref_dir: str, load_pages, with_scored: bool = False
                     ) -> dict:
    """Cached oracle reference for one corpus.  ``load_pages`` returns
    the pandas pages table; it is called only on a cache miss."""
    path = reference_path(ref_dir)
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    from ai_log_analyzer_spark.oracle import pipeline as O

    pages = load_pages()
    t0 = time.perf_counter()
    res = O.run(pages)
    oracle_s = time.perf_counter() - t0
    ref = {
        "rows": len(pages),
        "templates": len(res.catalog),
        "hosts": int(pages["host"].nunique()),
        "matched": int(res.parsed["template_id"].notna().sum()),
        "scored_rows": len(res.scored),
        "counts": _counts(res.routed_counts.to_dict("records")),
        "routed_hash": routed_hash(res.scored),
        "extracted_hash": extracted_hash(res.parsed),
        "oracle_s": oracle_s,
        "oracle_docs_per_s": len(pages) / oracle_s,
    }
    if with_scored:
        res.scored[["host", "seq_no", *DECISION_COLS, "anomaly_score"]] \
            .to_parquet(os.path.join(ref_dir, "scored.parquet"), index=False)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(ref, f, indent=1)
    os.replace(tmp, path)
    return ref


def check_batch(ref: dict, sink_counts: list, routed: pd.DataFrame,
                parsed: pd.DataFrame) -> list[str]:
    """Mismatches of one batch run against the reference (empty = ok)."""
    bad = []
    got = _counts(sink_counts)
    if got != ref["counts"]:
        bad.append(f"sink counts {got} != reference {ref['counts']}")
    if routed_hash(routed) != ref["routed_hash"]:
        bad.append("routed (host, seq_no, severity) set differs")
    if extracted_hash(parsed) != ref["extracted_hash"]:
        bad.append("per-url extracted_text differs")
    return bad


def check_stream(ref_scored: pd.DataFrame, got: pd.DataFrame,
                 rows_per_file: int) -> set[int]:
    """Indices of stream files whose scored rows differ from the
    reference: a missing, extra or duplicated row, a different decision,
    or a score outside the tolerance."""
    key = ["host", "seq_no"]
    dup = got[got.duplicated(key, keep=False)]
    m = ref_scored.merge(got.drop_duplicates(key), on=key, how="outer",
                         suffixes=("_ref", "_got"), indicator=True)
    bad = m["_merge"] != "both"
    both = ~bad
    for c in DECISION_COLS:
        bad |= both & (m[f"{c}_ref"] != m[f"{c}_got"])
    a, b = m["anomaly_score_got"], m["anomaly_score_ref"]
    bad |= both & ~(np.abs(a - b) <= SCORE_ATOL + SCORE_RTOL * np.abs(b))
    seqs = np.concatenate([m.loc[bad, "seq_no"].to_numpy(),
                           dup["seq_no"].to_numpy()]).astype(np.int64)
    return set((seqs // rows_per_file).tolist())


class BatchReference:
    """The batch reference of one corpus, computed in a process of its
    own while the engine warms up (a thread would contend with the
    driver's py4j calls for the interpreter lock).  ``get`` blocks
    until it is ready; ``stop`` ends the process on any path out."""

    def __init__(self, ref_dir: str, pages_path: str, cwd: str):
        self.ref_dir = ref_dir
        self.proc = None
        if not os.path.exists(reference_path(ref_dir)):
            self.proc = subprocess.Popen(
                [sys.executable, "-m", "perfbench.reference", ref_dir,
                 pages_path], cwd=cwd, stdout=subprocess.DEVNULL)

    @property
    def pid(self) -> int | None:
        return self.proc.pid if self.proc else None

    def get(self) -> dict:
        if self.proc is not None and self.proc.wait() != 0:
            raise RuntimeError(f"oracle reference process exited with "
                               f"{self.proc.returncode}")
        with open(reference_path(self.ref_dir)) as f:
            return json.load(f)

    def stop(self) -> None:
        if self.proc is not None and self.proc.poll() is None:
            self.proc.kill()
        if self.proc is not None:
            self.proc.wait()


def main(argv: list[str]) -> int:
    """``python3 -m perfbench.reference <ref dir> <pages path>``: compute
    and cache the reference of one written batch table."""
    from .corpus import read_pages

    ref_dir, pages_path = argv
    ensure_reference(ref_dir, lambda: read_pages(pages_path))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
