"""The benchmark's workloads, driven through the package's public
functions.

- ``logs_batch``: ``PipelineRunner.run`` over a pages table, then a
  simulated crash in ``route`` and a resume.
- ``logs_stream``: an open loop landing pages files on a fixed schedule
  into ``read_pages_stream -> parse_template_ids ->
  score_stream_stateful -> parquet sink`` (checkpoint, processing-time
  trigger), then a restart from the checkpoint.

Each workload returns its end-to-end figures, an (attempted, failed)
count of checked operations and, when traced, its per-layer figures.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.dataset as ds

from . import reference as R
from .tracing import Tracer


@dataclass
class Spec:
    name: str
    mode: str               # "batch" | "stream"
    rows: int               # batch only; the stream's size follows --seconds
    hosts: int
    # stream only
    warm_files: int = 0
    resume_files: int = 0
    rows_per_file: int = 0
    file_interval_s: float = 0.0
    trigger_s: float = 0.0


WORKLOADS = {
    "logs_batch": Spec("logs_batch", "batch", rows=400_000, hosts=100),
    # 10 hosts, so that each host's rows fill the scorer's windows; the
    # trigger interval is longer than a micro-batch takes
    "logs_stream": Spec("logs_stream", "stream", rows=0, hosts=10,
                        warm_files=1, resume_files=2,
                        rows_per_file=10,
                        file_interval_s=0.2, trigger_s=10.0),
}


@dataclass
class Outcome:
    """Checked operations: a pass, or a landed stream file."""
    attempted: int = 0
    failed: int = 0
    notes: list = field(default_factory=list)

    def record(self, mismatches: list[str]) -> None:
        self.attempted += 1
        if mismatches:
            self.failed += 1
            self.notes.extend(mismatches)

    def raised(self, exc: Exception) -> None:
        self.attempted += 1
        self.failed += 1
        self.notes.append(f"raised {type(exc).__name__}: {exc}"[:400])


def percentile(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))


def _dir_bytes_files(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def _read(path: str, columns: list[str]):
    return ds.dataset(path, format="parquet", partitioning="hive") \
        .to_table(columns=columns).to_pandas()


# -- batch ---------------------------------------------------------------

class BatchRun:
    """PipelineRunner passes over one pages table, each checked.
    ``ref`` returns the reference; it may block until the reference is
    ready, so a pass can run while the reference is still computed."""

    def __init__(self, spark, pages_path: str, ref, workdir: str):
        self.spark = spark
        self.pages_path = pages_path
        self.ref = ref
        self.workdir = workdir

    def warm(self, out: Outcome) -> None:
        """An unchecked runner pass over one of the table's eight
        buckets: it compiles and warms the same plans as a full pass.
        (Warming on two buckets did not make the first timed pass any
        faster; it stays 10-20% slower than the second.)"""
        from ai_log_analyzer_spark.plans.pipeline import PipelineRunner

        wdir = self.workdir + "-warm"
        shutil.rmtree(wdir, ignore_errors=True)
        try:
            PipelineRunner(self.spark, os.path.join(self.pages_path,
                                                    "bucket=0"), wdir).run()
        except Exception as exc:  # noqa: BLE001 — counted, not fatal
            out.raised(exc)
        shutil.rmtree(wdir, ignore_errors=True)

    def _check(self, res: dict, out: Outcome) -> None:
        out.record(R.check_batch(
            self.ref(), res["sink_counts"],
            _read(res["routed_path"], ["host", "seq_no", "severity"]),
            _read(res["parsed_path"], ["url", "extracted_text"])))

    def full(self, out: Outcome):
        """One cold-workdir runner pass: (result, wall_s)."""
        from ai_log_analyzer_spark.plans.pipeline import PipelineRunner

        shutil.rmtree(self.workdir, ignore_errors=True)
        t0 = time.perf_counter()
        res = PipelineRunner(self.spark, self.pages_path, self.workdir).run()
        wall = time.perf_counter() - t0
        self._check(res, out)
        return res, wall

    def crash_and_resume(self, res: dict, out: Outcome):
        """Simulate a crash in ``route`` (drop its manifest entry and
        its output), then resume: (result, resume_s)."""
        from ai_log_analyzer_spark.plans.pipeline import (Manifest,
                                                          PipelineRunner)

        mpath = os.path.join(self.workdir, "manifest.json")
        m = Manifest.load(mpath)
        m.entries.pop("route")
        m.save()
        shutil.rmtree(res["routed_path"])
        t0 = time.perf_counter()
        res2 = PipelineRunner(self.spark, self.pages_path, self.workdir).run()
        resume = time.perf_counter() - t0
        self._check(res2, out)
        return res2, resume

    def measure(self, seconds: float, out: Outcome, min_passes: int,
                resume: bool):
        """A warm-up pass over an eighth of the table, then a wait for
        the reference (computed meanwhile by another process, which
        would otherwise share the cores with the timed passes).  With
        ``resume`` a full pass follows, then the crash and a timed
        resume.  Then full passes while the next one is expected to end
        within ``seconds`` (at least ``min_passes``).  A pass that raises
        counts as failed; with no successful pass there is nothing to
        report.  Returns (walls, resume_s)."""
        self.warm(out)
        self.ref()
        resume_s = 0.0
        if resume:
            try:
                res, _ = self.full(out)
                resume_s = self.crash_and_resume(res, out)[1]
            except Exception as exc:  # noqa: BLE001 — counted, not fatal
                out.raised(exc)
        walls, tries = [], 0
        t0 = time.perf_counter()

        def next_fits() -> bool:
            now = time.perf_counter()
            return tries > 0 and now + (now - t0) / tries <= t0 + seconds

        while (len(walls) < min_passes and tries < 2 * min_passes + 1) \
                or next_fits():
            tries += 1
            try:
                walls.append(self.full(out)[1])
            except Exception as exc:  # noqa: BLE001 — counted, not fatal
                out.raised(exc)
        if not walls:
            raise RuntimeError(f"no runner pass succeeded: {out.notes[-3:]}")
        return walls, resume_s


def trace_batch(spark, tracer: Tracer, pages_path: str, ref: dict,
                work: str, out: Outcome) -> dict:
    """A warm-up pass of the runner over an eighth of the table (the
    traced session is new, and the untraced passes it is compared with
    ran warm), the runner itself under ``plans``, then the batch DAG one
    layer and one action at a time under spans.  Returns the per-layer
    figures that need no event log."""
    from ai_log_analyzer_spark.operators import enrich as enrich_op
    from ai_log_analyzer_spark.operators import fit as fit_op
    from ai_log_analyzer_spark.operators import parse as parse_op
    from ai_log_analyzer_spark.operators import route as route_op
    from ai_log_analyzer_spark.operators import windows as win_op
    from ai_log_analyzer_spark.plans.pipeline import Manifest

    runner = BatchRun(spark, pages_path, lambda: ref,
                      os.path.join(work, "runner"))
    with tracer.span("warmup"):
        runner.warm(out)
    with tracer.span("plans"):
        res, wall = runner.full(out)
    figures = {"trace.runner_wall_s": wall}
    manifest = Manifest.load(os.path.join(runner.workdir,
                                          "manifest.json")).entries
    stage_sum = 0.0
    for stage in ("fit", "parse", "enrich", "score", "route"):
        figures[f"plans.stage_s.{stage}"] = manifest[stage]["wall_s"]
        stage_sum += manifest[stage]["wall_s"]
    figures["plans.overhead_s"] = wall - stage_sum
    figures["plans.lineage_rows"] = ds.dataset(
        os.path.join(runner.workdir, "lineage")).count_rows()
    with tracer.span("plans.resume"):
        res2, _ = runner.crash_and_resume(res, out)
    figures["plans.resume_skipped"] = 5 - len(res2["executed"])
    figures["parse.rows"] = manifest["parse"]["rows"]

    p = {k: os.path.join(work, k) for k in
         ("catalog", "parsed", "enriched", "scored", "routed")}
    pages = scan(spark, tracer, pages_path)
    with tracer.span("fit"):
        cat = fit_op.fit_catalog(pages)
        fit_op.write_catalog(spark, cat, p["catalog"])
    with tracer.span("parse"):
        parse_op.parse_pages(pages, cat).write.mode("overwrite") \
            .parquet(p["parsed"])
    parsed = spark.read.parquet(p["parsed"])
    with tracer.span("enrich"):
        enrich_op.enrich(parsed, cat).write.mode("overwrite") \
            .parquet(p["enriched"])
    with tracer.span("windows"):
        win_op.window_score_grouped(parse_op.matched(parsed), len(cat),
                                    host_lookup=parsed) \
            .write.mode("overwrite").parquet(p["scored"])
    with tracer.span("route"):
        route_op.write_sinks(
            route_op.with_severity(spark.read.parquet(p["scored"])),
            p["routed"])
        with tracer.span("route.counts"):
            counts = route_op.sink_counts(
                spark.read.parquet(p["routed"])).collect()
    out.record(R.check_batch(
        ref, [r.asDict() for r in counts],
        _read(p["routed"], ["host", "seq_no", "severity"]),
        _read(p["parsed"], ["url", "extracted_text"])))

    tid = _read(p["parsed"], ["template_id"])["template_id"]
    enr = _read(p["enriched"], ["lang_family", "tld_region", "freq"])
    scored = _read(p["scored"], ["host", "template_id"])
    route_bytes, route_files = _dir_bytes_files(p["routed"])
    figures.update({
        "sources.scan_bytes": _dir_bytes_files(pages_path)[0],
        "fit.templates": len(cat),
        "parse.matched_ratio": float(tid.notna().mean()),
        "parse.jvm_path": int(parse_op.jvm_parse_eligible(cat)),
        "enrich.lookup_hit_ratio": float(enr.notna().to_numpy().mean()),
        "windows.rows_scored": len(scored),
        "windows.classes": scored["template_id"].nunique(),
        "windows.hosts": scored["host"].nunique(),
        "route.output_bytes": route_bytes,
        "route.files": route_files,
        "route.counts_s": tracer.wall("route.counts"),
    })
    return figures


def scan(spark, tracer: Tracer, path: str):
    """The ``sources`` layer: read the pages table and decode every
    column once.  Returns the (lazy) pages DataFrame.  (Spark's input
    byte counter undercounts local parquet reads, so scan bytes are the
    table's size on disk.)"""
    from pyspark.sql import functions as F

    pages = spark.read.parquet(path)
    with tracer.span("sources"):
        pages.select(F.max(F.xxhash64(*pages.columns))).collect()
    return pages


# -- stream --------------------------------------------------------------

class Lander(threading.Thread):
    """Open-loop file generator: lands file i at ``t0 + i * interval``
    (copy under a hidden name, then an atomic rename), whatever the
    engine is doing.  Records each file's scheduled and actual times."""

    def __init__(self, files: list[str], dst: str, t0: float,
                 interval: float):
        super().__init__(daemon=True)
        self.files, self.dst = files, dst
        self.scheduled = [t0 + i * interval for i in range(len(files))]
        self.landed: list[float] = []

    def run(self):
        for src, due in zip(self.files, self.scheduled):
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            land(src, self.dst)
            self.landed.append(time.time())

    @property
    def late_s(self) -> list[float]:
        return [a - s for a, s in zip(self.landed, self.scheduled)]


def aligned_start(n_files: int, interval: float, trigger_s: float,
                  lead_s: float = 0.5) -> float:
    """Start time of an ``n_files`` schedule whose last file lands
    ``lead_s`` before a trigger tick.  Spark fires processing-time
    triggers at whole multiples of the interval since the epoch, so the
    last file waits the same time for its micro-batch in every run and
    the stream's wall moves only with how long micro-batches take."""
    span = (n_files - 1) * interval
    earliest = time.time() + 0.1
    tick = math.ceil((earliest + span + lead_s) / trigger_s) * trigger_s
    return tick - lead_s - span


def land(src: str, dst_dir: str) -> None:
    name = os.path.basename(src)
    tmp = os.path.join(dst_dir, "." + name + ".tmp")
    shutil.copyfile(src, tmp)
    os.replace(tmp, os.path.join(dst_dir, name))


def batch_commits(ckpt: str) -> tuple[dict, dict]:
    """From a file-source checkpoint: {file name: batchId} and
    {batchId: commit time (mtime of the commit-log entry)}."""
    import json

    file_batch = {}
    src_log = os.path.join(ckpt, "sources", "0")
    for n in os.listdir(src_log):
        if n.startswith("."):
            continue
        with open(os.path.join(src_log, n)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    file_batch[os.path.basename(e["path"])] = e["batchId"]
    commits = {}
    cdir = os.path.join(ckpt, "commits")
    for n in os.listdir(cdir):
        if n.isdigit():
            commits[int(n)] = os.path.getmtime(os.path.join(cdir, n))
    return file_batch, commits


class StreamRun:
    def __init__(self, spark, files: list[str], catalog, workdir: str):
        self.spark = spark
        self.files = files
        self.catalog = catalog
        self.workdir = workdir
        self.src = os.path.join(workdir, "src")
        self.ckpt = os.path.join(workdir, "ckpt")
        self.out = os.path.join(workdir, "out")

    def start(self, trigger_s: float):
        from pyspark.sql import functions as F

        from ai_log_analyzer_spark.operators import parse as parse_op
        from ai_log_analyzer_spark.streaming import stream_pipeline as SP

        stream = SP.read_pages_stream(self.spark, self.src)
        parsed = parse_op.parse_template_ids(stream, self.catalog)
        scored = SP.score_stream_stateful(
            parsed.filter(F.col("template_id").isNotNull()),
            len(self.catalog))
        return (scored.writeStream.format("parquet")
                .option("path", self.out)
                .option("checkpointLocation", self.ckpt)
                .outputMode("append")
                .trigger(processingTime=f"{int(trigger_s * 1000)} milliseconds")
                .start())

    def run(self, spec: Spec, restart: bool,
            run_ids: list | None = None) -> dict:
        """Warm up on the first ``spec.warm_files`` files.  With
        ``restart``, stop, land the next ``spec.resume_files`` and
        restart from the checkpoint (``resume_s``: start until they are
        committed); without, those files join the warm-up.  Then land
        the rest on the open-loop schedule and drain.  Every file of the
        corpus lands exactly once."""
        shutil.rmtree(self.workdir, ignore_errors=True)
        os.makedirs(self.src)
        n_pre = spec.warm_files + spec.resume_files
        warm, resume = self.files[:spec.warm_files], \
            self.files[spec.warm_files:n_pre]
        sched = self.files[n_pre:]

        def started():
            q = self.start(spec.trigger_s)
            if run_ids is not None:
                run_ids.append(str(q.runId))
            return q

        for f in warm if restart else warm + resume:
            land(f, self.src)
        q = started()
        resume_s = None
        try:
            q.processAllAvailable()
            if restart:
                q.stop()
                for f in resume:
                    land(f, self.src)
                t0 = time.perf_counter()
                q = started()
                q.processAllAvailable()
                resume_s = time.perf_counter() - t0
            done_before = {int(p.batchId) for p in q.recentProgress}
            lander = Lander(sched, self.src,
                            aligned_start(len(sched), spec.file_interval_s,
                                          spec.trigger_s),
                            spec.file_interval_s)
            lander.start()
            lander.join()
            q.processAllAvailable()
            progress = [p for p in q.recentProgress
                        if p.numInputRows > 0
                        and int(p.batchId) not in done_before]
            state = q.lastProgress.stateOperators
        finally:
            q.stop()
        file_batch, commits = batch_commits(self.ckpt)
        sched_end = lander.scheduled[-1]
        lat, done_at, backlog = [], [], 0
        for f, due in zip(sched, lander.scheduled):
            done = commits[file_batch[os.path.basename(f)]]
            lat.append(done - due)
            done_at.append(done)
            backlog += done > sched_end
        busy = [p.durationMs["triggerExecution"] / 1e3 for p in progress]
        # the stream's job wall: first scheduled landing to last commit
        wall = max(done_at) - lander.scheduled[0]
        return {
            "docs_per_s": len(sched) * spec.rows_per_file / wall,
            "resume_s": resume_s,
            "latency_p50_s": percentile(lat, 50),
            "latency_p90_s": percentile(lat, 90),
            "backlog_files_end": backlog,
            "batches": len(progress),
            "batch_s_p50": statistics.median(busy),
            "batch_s": busy,
            "batch_rows": [p.numInputRows for p in progress],
            "latency_s": lat,
            "state_rows": state[0].numRowsTotal if state else 0,
            "state_bytes": state[0].memoryUsedBytes if state else 0,
            "gen_late_s": max(lander.late_s),
            "uncommitted": {i for i, f in enumerate(self.files)
                            if file_batch.get(os.path.basename(f))
                            not in commits},
        }

    def check(self, ref_scored, uncommitted: set, rows_per_file: int,
              out: Outcome) -> None:
        """Every landed file is one attempt; it fails when it was never
        committed or its scored rows differ from the reference."""
        got = _read(self.out, ["host", "seq_no", *R.DECISION_COLS,
                               "anomaly_score"])
        bad = R.check_stream(ref_scored, got, rows_per_file) \
            | uncommitted
        out.attempted += len(self.files)
        out.failed += len(bad)
        if bad:
            out.notes.append(f"stream files differing from the reference: "
                             f"{sorted(bad)}")


def fit_stream_catalog(spark, tracer: Tracer, files_path: str):
    """The stream's frozen catalog, fit once over the whole corpus."""
    from ai_log_analyzer_spark.operators import fit as fit_op

    with tracer.span("fit"):
        return fit_op.fit_catalog(spark.read.parquet(files_path))


def trace_stream_layers(spark, tracer: Tracer, files_path: str, work: str):
    """Scan, fit and the id-only parse of the stream corpus as batch
    actions, so their layers are measured on the stream's own data.
    Returns (catalog, figures)."""
    from ai_log_analyzer_spark.operators import parse as parse_op

    pages = scan(spark, tracer, files_path)
    cat = fit_stream_catalog(spark, tracer, files_path)
    parsed = os.path.join(work, "parsed")
    with tracer.span("parse"):
        parse_op.parse_template_ids(pages, cat).write.mode("overwrite") \
            .parquet(parsed)
    tid = _read(parsed, ["template_id"])["template_id"]
    return cat, {"sources.scan_bytes": _dir_bytes_files(files_path)[0],
                 "fit.templates": len(cat),
                 "parse.rows": len(tid),
                 "parse.matched_ratio": float(tid.notna().mean()),
                 "parse.jvm_path": int(parse_op.jvm_parse_eligible(cat))}


def layer_figures(tracer: Tracer, el: dict, ref: dict, forms: int) -> dict:
    """Per-layer figures from span walls, the reduced event log, the
    reference's row count and the input's distinct masked forms."""
    from .tracing import totals

    def g(layer: str, key: str):
        return el.get(layer, {}).get(key, 0)

    f = {f"{name}.wall_s": tracer.wall(name)
         for name in ("fit", "parse", "enrich", "windows", "route")}
    f.update({
        "fit.spark_s": g("fit", "spark_s"),
        "fit.driver_s": f["fit.wall_s"] - g("fit", "spark_s"),
        "fit.forms": forms,
        "parse.form_share": forms / ref["rows"],
        "parse.py_bytes_out": g("parse", "py_bytes_out"),
        "parse.py_bytes_in": g("parse", "py_bytes_in"),
        "parse.task_skew": g("parse", "task_skew"),
    })
    if "windows" in el:
        f.update({
            "windows.shuffle_write_bytes": g("windows", "shuffle_write_bytes"),
            "windows.shuffle_read_bytes": g("windows", "shuffle_read_bytes"),
            "windows.spill_bytes": g("windows", "spill_bytes"),
            "windows.task_skew": g("windows", "task_skew"),
        })
    f.update({f"spark.{k}": v for k, v in
              totals({k: v for k, v in el.items() if k != "warmup"}).items()})
    return f
