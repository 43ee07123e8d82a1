"""Self-tests of the benchmark itself (no Spark needed).

    python3 perfbench/selftest.py

Checks that the same seed reproduces the corpus fingerprint, that a
corrupted output is counted as failed, and that the stream generator
reports how late it ran.  Exits non-zero on the first failure.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_seed_reproduces_fingerprint(work: str) -> None:
    from perfbench import corpus as C

    a = C.fingerprint(C.logs_frame(seed=5, rows=600, hosts=100))
    b = C.fingerprint(C.logs_frame(seed=5, rows=600, hosts=100))
    other = C.fingerprint(C.logs_frame(seed=6, rows=600, hosts=100))
    assert a == b, "same seed gave two corpus fingerprints"
    assert a != other, "two seeds gave the same corpus fingerprint"
    # the stream cut is the same rows, whatever the file count
    c = C.corpus_for(work, seed=5, rows=600, hosts=100)
    files = C.ensure_files(c, n_files=6)
    assert C.fingerprint(C.read_files(files)) == a, \
        "stream files do not hold the seeded rows"


def _oracle(rows: int = 1500):
    from ai_log_analyzer_spark import grammar
    from ai_log_analyzer_spark.oracle import pipeline as O

    pages = grammar.generate_pages(rows, seed=11)
    return pages, O.run(pages)


def test_corrupted_output_counts_as_failed(work: str) -> None:
    from perfbench import reference as R
    from perfbench.workloads import Outcome

    pages, res = _oracle()
    ref_dir = os.path.join(work, "ref")
    os.makedirs(ref_dir)
    ref = R.ensure_reference(ref_dir, lambda: pages, with_scored=True)
    counts = res.routed_counts.to_dict("records")
    routed, parsed = res.scored, res.parsed

    out = Outcome()
    out.record(R.check_batch(ref, counts, routed, parsed))
    assert (out.attempted, out.failed) == (1, 0), out.notes

    bad_counts = [dict(r) for r in counts]
    bad_counts[0]["n_rows"] += 1
    bad_routed = routed.copy()
    bad_routed.loc[bad_routed.index[0], "severity"] = (
        "info" if bad_routed["severity"].iloc[0] != "info" else "crit")
    bad_parsed = parsed.copy()
    bad_parsed.loc[bad_parsed.index[3], "extracted_text"] = "tampered"
    for args in ((bad_counts, routed, parsed), (counts, bad_routed, parsed),
                 (counts, routed, bad_parsed)):
        out.record(R.check_batch(ref, *args))
    assert (out.attempted, out.failed) == (4, 3), out.notes

    import pandas as pd
    scored = pd.read_parquet(os.path.join(ref_dir, "scored.parquet"))
    per = 100
    assert R.check_stream(scored, scored.copy(), per) == set()
    shifted = scored.copy()
    shifted.loc[shifted.index[5], "anomaly_score"] += 1e-3
    assert R.check_stream(scored, shifted, per) == \
        {int(scored["seq_no"].iloc[5]) // per}
    flipped = scored.copy()
    flipped.loc[flipped.index[7], "is_anomaly"] = \
        not flipped["is_anomaly"].iloc[7]
    assert R.check_stream(scored, flipped, per) == \
        {int(scored["seq_no"].iloc[7]) // per}
    dropped = scored.drop(scored.index[9])
    assert R.check_stream(scored, dropped, per) == \
        {int(scored["seq_no"].iloc[9]) // per}
    doubled = pd.concat([scored, scored.iloc[[11]]])
    assert R.check_stream(scored, doubled, per) == \
        {int(scored["seq_no"].iloc[11]) // per}


def test_stream_generator_reports_lateness(work: str) -> None:
    from perfbench.workloads import Lander

    src = os.path.join(work, "lander_src")
    dst = os.path.join(work, "lander_dst")
    os.makedirs(src)
    os.makedirs(dst)
    files = []
    for i in range(5):
        p = os.path.join(src, f"{i:05d}.parquet")
        with open(p, "wb") as f:
            f.write(b"x")
        files.append(p)
    on_time = Lander(files, dst, time.time() + 0.05, 0.02)
    on_time.start()
    on_time.join(10)
    assert not on_time.is_alive()
    assert sorted(os.listdir(dst)) == [os.path.basename(p) for p in files]
    assert len(on_time.late_s) == 5 and min(on_time.late_s) >= 0
    # a generator started 0.5 s behind its schedule reports that lag
    shutil.rmtree(dst)
    os.makedirs(dst)
    behind = Lander(files, dst, time.time() - 0.5, 0.02)
    behind.start()
    behind.join(10)
    assert max(behind.late_s) >= 0.5, behind.late_s


def main() -> int:
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", "selftest")
    failed = 0
    for name, fn in sorted(globals().items()):
        if not name.startswith("test_"):
            continue
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            fn(work)
            print(f"ok    {name}")
        except AssertionError as exc:
            failed += 1
            print(f"FAIL  {name}: {exc}")
    shutil.rmtree(work, ignore_errors=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
