"""sparklog benchmark: one workload, one seed, one JSON result line.

Run from the repository root:

    python3 perfbench/run.py --workload logs_batch --seed 1 --seconds 12 --trace 0

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json;
``--trace 1`` runs the workload once untraced and once under spans, job
groups and Spark's event log, and prints the per-layer metrics.  Every
run's outputs are checked against the single-process oracle; the last
stdout line is {"correct", "attempted", "failed", "metrics"}.  A full
report (box facts, spans, per-layer event-log figures) is written under
``.perfbench/reports``.
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
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "ai_log_analyzer_spark"
# stops the benchmark's helper processes on every path out of ``main``
_CLEANUP: list = []


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since process start."""
    from perfbench.box import process_age_s
    print(f"[perfbench {process_age_s():7.2f}s] {msg}", file=sys.stderr,
          flush=True)


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _zip_s(work: str) -> float:
    from ai_log_analyzer_spark.packaging import package_zip

    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        package_zip(os.path.join(work, "tmp", "zip_probe.zip"))
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import pandas as pd

    from perfbench import box
    from perfbench import corpus as C
    from perfbench import reference as R
    from perfbench import tracing as T
    from perfbench import workloads as W

    spec = W.WORKLOADS[workload]
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, "runs", f"{workload}-s{seed}-{os.getpid()}")
    cache = os.path.join(work, "cache")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    # set-up: interpreter, JVM launch, build_session, zip and the
    # Python-worker warm-up, timed from process start
    spark, session_s, _ = box.start_session(work)
    setup_s = box.process_age_s()
    log(f"set-up done: {setup_s:.3f} s")
    facts = box.box_facts()
    print(f"box: {json.dumps(facts)}", flush=True)
    out = W.Outcome()
    layer = {"conf.session_s": session_s, "conf.zip_s": _zip_s(work)}

    if spec.mode == "batch":
        c = C.corpus_for(cache, seed, spec.rows, spec.hosts)
        C.ensure_pages(spark, c)
        # the single-process oracle runs in a process of its own during
        # the runner's untimed warm-up; the timed passes wait for it
        oracle = R.BatchReference(c.dir, c.pages_path, ROOT)
        _CLEANUP.append(oracle.stop)
        log("corpus ready")
        batch = W.BatchRun(spark, c.pages_path, oracle.get,
                           os.path.join(run_dir, "runner"))
    else:
        n_files = (spec.warm_files + spec.resume_files
                   + round(seconds / spec.file_interval_s))
        c = C.corpus_for(cache, seed, n_files * spec.rows_per_file,
                         spec.hosts)
        files = C.ensure_files(c, n_files)
        ref = R.ensure_reference(c.dir, lambda: C.read_files(files),
                                 with_scored=True)
        ref_scored = pd.read_parquet(os.path.join(c.dir, "scored.parquet"))
        log("corpus and reference ready")

    # the runner's resume and the checkpoint restart run only in traced
    # runs: their times (plans.resume_s, stream.resume_s) are per-layer
    def stream_pass(tracer: T.Tracer, cat, run_ids: list | None = None
                    ) -> dict:
        sr = W.StreamRun(spark, files, cat, os.path.join(run_dir, "stream"))
        with tracer.span("streaming"):
            res = sr.run(spec, trace, run_ids)
        sr.check(ref_scored, res.pop("uncommitted"), spec.rows_per_file, out)
        return res

    el_dir = os.path.join(run_dir, "eventlog")
    tracer = T.Tracer(enabled=False)
    helpers = {oracle.pid} if spec.mode == "batch" else set()
    with box.RssSampler(exclude=helpers) as rss:
        if spec.mode == "batch":
            walls, resume_s = batch.measure(seconds, out, min_passes=2,
                                            resume=trace)
            ref = oracle.get()
            e2e = {"docs_per_s": ref["rows"] / statistics.median(walls)}
            untraced = {"plans.resume_s": resume_s}
            batch_detail = {"pass_wall_s": walls, "resume_s": resume_s}
        else:
            res = stream_pass(tracer, W.fit_stream_catalog(
                spark, tracer, c.files_path))
            e2e = {"docs_per_s": res["docs_per_s"]}
            untraced = {f"stream.{k}": res[k] for k in
                        ("resume_s", "latency_p50_s", "latency_p90_s")}
            stream_detail = res
        log(f"untraced measurement done: {e2e} {untraced}")
        if trace:
            spark.stop()
            spark, _, _ = box.start_session(work, event_log_dir=el_dir)
            tracer = T.Tracer(spark)
            layer.update(untraced)
            if spec.mode == "batch":
                layer.update(W.trace_batch(spark, tracer, c.pages_path, ref,
                                           os.path.join(run_dir, "traced"),
                                           out))
                traced_docs = ref["rows"] / layer.pop("trace.runner_wall_s")
            else:
                run_ids: list = []
                cat, figures = W.trace_stream_layers(
                    spark, tracer, c.files_path,
                    os.path.join(run_dir, "traced"))
                layer.update(figures)
                sres = stream_pass(tracer, cat, run_ids)
                layer.update({f"stream.{k}": sres[k] for k in
                              ("batches", "batch_s_p50", "state_rows",
                               "state_bytes", "gen_late_s",
                               "backlog_files_end")})
                traced_docs = sres["docs_per_s"]
            layer["trace.docs_per_s"] = traced_docs
            layer["trace.overhead_frac"] = 1 - traced_docs / e2e["docs_per_s"]
    spark.stop()
    log("measurement done")
    e2e["peak_rss_mb"] = rss.peak_mb
    e2e["setup_s"] = setup_s

    report = {"workload": workload, "seed": seed, "seconds": seconds,
              "trace": trace, "box": facts,
              "peak_rss_by_command": rss.peak_breakdown(),
              "reference": ref, "e2e": e2e, "notes": out.notes}
    if spec.mode == "stream":
        report["stream"] = stream_detail
    else:
        report["batch"] = batch_detail
    if trace:
        group_layer = {rid: "streaming" for rid in
                       (run_ids if spec.mode == "stream" else [])}
        el = T.reduce_event_log(T.event_log_file(el_dir), group_layer)
        texts = (C.read_pages(c.pages_path) if spec.mode == "batch"
                 else C.read_files(files))["text"]
        layer.update(W.layer_figures(tracer, el, ref,
                                     C.distinct_forms(texts)))
        report.update(layers_event_log=el, spans=[vars(s) for s in tracer.spans],
                      self_s=tracer.self_times(), per_layer=layer)
    os.makedirs(os.path.join(work, "reports"), exist_ok=True)
    with open(os.path.join(work, "reports",
                           f"{workload}-s{seed}-t{int(trace)}.json"), "w") as f:
        json.dump(report, f, indent=1, default=float)
    shutil.rmtree(run_dir, ignore_errors=True)
    return {"e2e": e2e, "layer": layer, "out": out, "ref": ref,
            "self_s": tracer.self_times()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import box
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    spec = _bench_spec()
    box.prepare_env(os.path.join(ROOT, ".perfbench"))
    # a terminated run still stops the JVM and the helpers below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        got = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:  # noqa: BLE001 — a run that cannot finish prints no result
        traceback.print_exc()
        return 1
    finally:
        for stop in reversed(_CLEANUP):
            stop()
        box.shutdown_jvm()

    out, ref = got["out"], got["ref"]
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = got["layer"] if args.trace else got["e2e"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    for note in out.notes[:20]:
        print(f"MISMATCH: {note}")
    print(f"reference: {ref['rows']} rows, {ref['templates']} templates, "
          f"oracle {ref['oracle_docs_per_s']:.0f} docs/s single-process")
    if args.trace:
        for name, s in sorted(got["self_s"].items()):
            print(f"span self time {name}: {s:.4f} s")
    print(f"failed_frac: {out.failed / max(out.attempted, 1):.4f} "
          f"({out.failed}/{out.attempted})")
    for name, m in metrics.items():
        print(f"{name}: {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": out.failed == 0 and out.attempted > 0,
                      "attempted": max(out.attempted, 1),
                      "failed": out.failed if out.attempted else 1,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
