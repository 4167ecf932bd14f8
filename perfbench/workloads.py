"""The benchmark's workloads and the metrics they report.

Every workload times *operations* and reports the same end-to-end
metrics over them, so each metric reads on each workload:

* ``queries`` (closed loop, one client): an operation is one registered
  query, built with ``queries[name](spark, sf_dir)`` and executed into
  the ``noop`` sink.
* ``sensor`` (closed loop, one client): an operation is one landed
  file, from its landing to the commit of the micro-batch that holds
  it. After the stream, ``run_sensor_batch`` calls over directories of
  CSV files, each until its third sink write returns, give the row rate.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import math
import os
import random
import signal
import statistics
import subprocess
import sys
import time
import warnings
from pathlib import Path
from unittest import mock

import gen
import tracing as tr

# The query subset: the rows ROADMAP names (lakehouse, relational and
# Python-kernel rows) plus one text-statistics row (see
# perfbench/README.md for why each is here).
QUERIES = (
    "advised_join_parity",
    "era_mixed_time_range",
    "stats_catalog_parity",
    "q5_local_supplier_volume",
    "dedup_clusters",
    "duplicate_passages",
    "text_stats",
)
# Rows whose build job counts and build shares are per-layer metrics.
NAMED_QUERIES = tuple(q for q in QUERIES if q != "text_stats")
QUERY_SF = 0.01

ROWS_PER_FILE = 5000
INGEST_FILES = 10
INGESTS = 3
WARM_FILES, WARM_ROWS = 3, 500
STREAM_MIN_FILES = 3
STREAM_WARM_FILES = tuple(f"stream_warm_{i}.csv" for i in range(5))
STREAM_COMMIT_TIMEOUT_S = 60.0

AGG_KEYS = ("sensor_id", "file_name", "metric_name", "aggregation_time")


def _now() -> float:
    return time.perf_counter()


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Run:
    """State of one benchmark run: session, samples, failures, trace."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 work: Path, t_start: float):
        self.workload, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        self.work, self.t_start = work, t_start
        self.spark = None
        self.tracer: tr.Tracer | None = None
        self.gen_s = 0.0
        self.get_spark_s = 0.0
        self.warmup_s = 0.0
        self.setup_s = 0.0
        self.ops: list[float] = []  # one latency per operation (seconds)
        self.rows_per_s = 0.0  # input rows per engine second, timed operations
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layers: dict[str, float] = {}
        self.info: dict = {}
        self.ambient: dict = {}

    # -- lifecycle -----------------------------------------------------------
    def start_session(self):
        from data_pipeline_project_spark.session import get_spark

        tmp = self.work / "tmp"
        t = _now()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            extra_confs={
                "spark.local.dir": str(tmp),
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                # no hsperfdata file under /tmp: the run writes only inside its directory
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.get_spark_s = _now() - t
        if self.traced:
            self.tracer = tr.Tracer(self.spark)
        return self.spark

    def setup_done(self) -> None:
        self.setup_s = _now() - self.t_start - self.gen_s

    def stop(self) -> None:
        """Stop Spark and wait until its JVM and Python workers have
        exited: a JVM left shutting down in the background would burn
        the next run's CPU."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        children = _descendants(os.getpid())
        self.spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        while children and time.time() < deadline:
            children = {p for p in children if os.path.exists(f"/proc/{p}")}
            time.sleep(0.05)
        for pid in children:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)
        self.spark = None

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what[:400])

    # -- results -------------------------------------------------------------
    def end_to_end_metrics(self) -> dict:
        ops = self.ops
        return {
            "setup_s": {"value": self.setup_s, "unit": "s"},
            "latency_geomean_s": {
                "value": math.exp(statistics.fmean(math.log(x) for x in ops)) if ops else 0.0,
                "unit": "s"},
            "latency_mean_s": {"value": statistics.fmean(ops) if ops else 0.0, "unit": "s"},
            "rows_per_s": {"value": self.rows_per_s, "unit": "rows/s"},
        }

    def layer_metrics(self) -> dict:
        return {name: {"value": v, "unit": LAYER_UNITS[name]}
                for name, v in self.layers.items()}

    def detail(self) -> dict:
        return {
            "workload": self.workload, "seed": self.seed, "seconds": self.seconds,
            "traced": self.traced, "ambient": self.ambient,
            "gen_s": round(self.gen_s, 3), "get_spark_s": round(self.get_spark_s, 3),
            "warmup_s": round(self.warmup_s, 3), "ops": [round(x, 4) for x in self.ops],
            "rows_per_s": round(self.rows_per_s, 1),
            "problems": self.problems, **self.info,
        }

    def span_dump(self) -> list:
        return [s.as_json() for s in self.tracer.spans] if self.tracer else []

    # -- per-layer results -----------------------------------------------------
    def init_layers(self, job_ids, wall_s: float) -> None:
        """Zero every per-layer metric, then fill the ones every workload
        has: session, Spark stage totals, worker memory, trace cost."""
        self.tracer.fill_jobs(self.spark)
        self.layers = {name: 0.0 for name in LAYER_UNITS}
        t = tr.stage_totals(self.spark, job_ids)
        cores = self.spark.sparkContext.defaultParallelism
        self.layers.update({
            "session.get_spark_s": self.get_spark_s,
            "session.warmup_s": self.warmup_s,
            "spark.task_run_s": t.task_run_s,
            "spark.jvm_cpu_s": t.jvm_cpu_s,
            "spark.gc_s": t.gc_s,
            "spark.core_util": t.task_run_s / (wall_s * cores),
            "spark.shuffle_read_bytes": t.shuffle_read_bytes,
            "spark.shuffle_write_bytes": t.shuffle_write_bytes,
            "spark.spill_bytes": t.spill_bytes,
            "spark.output_bytes": t.output_bytes,
            "functions.python_share": t.python_s / t.task_run_s if t.task_run_s else 0.0,
            "functions.worker_peak_rss_mb": worker_peak_rss_mb(),
            "trace.overhead": self.tracer.bookkeeping_s / wall_s,
        })
        self.info["stage_totals"] = t.__dict__


# per-layer metric units; every workload reports every name
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "op.batch_s": "s",
    "build.s": "s",
    "build.jobs": "count",
    "build.share": "ratio",
    "write.s": "s",
    "write.jobs": "count",
    "spark.task_run_s": "s",
    "spark.jvm_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.core_util": "ratio",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "functions.python_share": "ratio",
    "functions.worker_peak_rss_mb": "MB",
    "manifest.share": "ratio",
    "manifest.jobs": "count",
    "pipeline_batch.header_probe_share": "ratio",
    "pipeline_batch.process_frame_share": "ratio",
    "pipeline_batch.stream_frame_share": "ratio",
    "sinks.raw_share": "ratio",
    "sinks.agg_share": "ratio",
    "sinks.quarantine_share": "ratio",
    "sinks.write_amplification": "ratio",
    "sinks.stream_write_share": "ratio",
    "streaming.batches": "count",
    "streaming.pickup_s": "s",
    "streaming.planning_share": "ratio",
    "streaming.wal_commit_share": "ratio",
    "streaming.add_batch_share": "ratio",
    "trace.overhead": "ratio",
    "trace.extra_jobs": "count",
    "trace.wall_ratio": "ratio",
    **{f"query.{q}.{m}": u for q in NAMED_QUERIES
       for m, u in (("build_jobs", "count"), ("build_share", "ratio"))},
}


# --------------------------------------------------------------------------
# shared helpers
# --------------------------------------------------------------------------

def _descendants(root: int) -> set[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out = set()
    for pid in parent:
        p, hops = pid, 0
        while p in parent and p != root and hops < 64:
            p, hops = parent[p], hops + 1
        if p == root and pid != root:
            out.add(pid)
    return out


def worker_peak_rss_mb() -> float:
    """Highest VmHWM among this process's descendant PySpark worker
    processes (the daemon and the workers it forks)."""
    peak = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if b"pyspark.daemon" not in fh.read():
                    continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024.0


def _shares(spans, total_s: float) -> dict[str, float]:
    """Self seconds per span name, as shares of ``total_s``."""
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + s.self_s
    return {k: v / total_s for k, v in out.items()}


def _subtree(spans, root_ids: set[int]):
    keep = set(root_ids)
    for s in spans:  # spans are recorded parent-first
        if s.parent in keep:
            keep.add(s.id)
    return [s for s in spans if s.id in keep]


def _jobs_of(spans) -> int:
    return sum(len(s.jobs) for s in spans)


def _patched(tracer, names: dict[str, tuple[str, ...]],
             layer: str | None = None) -> contextlib.ExitStack:
    """Route module-level names through tracer spans until the returned
    stack closes; the pipeline modules look these names up on every
    call."""
    stack = contextlib.ExitStack()
    for mod_name, attrs in names.items():
        mod = importlib.import_module(mod_name)
        span_layer = layer or mod_name.rsplit(".", 1)[1]
        for a in attrs:
            stack.enter_context(mock.patch.object(
                mod, a, tracer.wrap(f"{span_layer}:{a}", getattr(mod, a))))
    return stack


# --------------------------------------------------------------------------
# query suite
# --------------------------------------------------------------------------

_MANIFEST_ENTRY_POINTS = {
    "data_pipeline_project_spark.sinks.manifest": (
        "write_versioned_manifest", "analyze_table", "snapshot_rowcount",
        "table_column_minmax", "read_manifest",
    ),
    "data_pipeline_project_spark.sinks.layout": ("write_range_clustered", "advised_join"),
}


def run_queries(run: Run) -> None:
    sf_dir = str(run.work / "tables")
    t = _now()
    run.info["table_rows"] = gen.write_tables(sf_dir, run.seed, QUERY_SF)
    run.gen_s = _now() - t

    spark = run.start_session()
    from data_pipeline_project_spark.plans.registry import get_queries
    from data_pipeline_project_spark.sources.tables import load_table

    queries = get_queries()
    t = _now()
    load_table(spark, "lineitem", sf_dir).count()
    run.warmup_s = _now() - t
    run.setup_done()

    # The untimed correctness pass runs first: it also lets the JIT, the
    # Python worker pool and per-process fixtures settle before timing.
    t = _now()
    _check_queries(run, sf_dir)
    run.info["check_s"] = round(_now() - t, 3)

    order = list(QUERIES)
    random.Random(run.seed).shuffle(order)
    run.info["order"] = order

    before = tr.next_job_id(spark)
    # a traced run times one untraced and one traced pass
    seconds = 0.0 if run.traced else run.seconds
    samples, first_jobs = _timed_passes(run, queries, order, sf_dir, None, seconds)
    run.ops = [_median(samples[n]) for n in order if samples[n]]
    run.info["samples"] = samples
    totals = tr.stage_totals(spark, range(before, tr.next_job_id(spark)), python=False)
    run.rows_per_s = totals.input_records / sum(sum(v) for v in samples.values())
    run.info["stage_totals"] = totals.__dict__
    if not run.traced:
        return

    tracer = run.tracer
    before = tr.next_job_id(spark)
    t = _now()
    with _patched(tracer, _MANIFEST_ENTRY_POINTS, layer="manifest"):
        traced_samples, traced_first_jobs = _timed_passes(run, queries, order, sf_dir, tracer, 0.0)
    run.init_layers(range(before, tr.next_job_id(spark)), _now() - t)
    run.info["traced_samples"] = traced_samples
    run.info["first_pass_jobs"] = {"untraced": first_jobs, "traced": traced_first_jobs}

    spans = tracer.spans
    ops = [s for s in spans if s.layer() == "op"]
    n_ops = len(ops)
    total = sum(s.duration for s in ops)
    builds = [s for s in spans if s.layer() == "build"]
    execs = [s for s in spans if s.layer() == "exec"]
    manifest = [s for s in spans if s.layer() == "manifest"]
    build_s = sum(s.duration for s in builds)
    run.layers.update({
        "op.batch_s": total / n_ops,
        "build.s": build_s / n_ops,
        "build.jobs": _jobs_of(_subtree(spans, {s.id for s in builds})) / n_ops,
        "build.share": build_s / total,
        "write.s": sum(s.duration for s in execs) / n_ops,
        "write.jobs": _jobs_of(_subtree(spans, {s.id for s in execs})) / n_ops,
        "manifest.share": sum(s.self_s for s in manifest) / total,
        "manifest.jobs": _jobs_of(manifest) / n_ops,
        "trace.extra_jobs": sum(traced_first_jobs.values()) - sum(first_jobs.values()),
        "trace.wall_ratio": _median([traced_samples[n][0] / _median(samples[n])
                                     for n in order if traced_samples[n] and samples[n]]),
    })
    _check_extra_jobs(run)
    for q in NAMED_QUERIES:
        mine = [s for s in ops if s.name == f"op:{q}"]
        if not mine:
            continue
        b = [s for s in builds if s.name == f"build:{q}"]
        run.layers[f"query.{q}.build_jobs"] = _jobs_of(_subtree(spans, {s.id for s in b})) / len(mine)
        run.layers[f"query.{q}.build_share"] = (
            sum(s.duration for s in b) / sum(s.duration for s in mine))


def _timed_passes(run: Run, queries, order, sf_dir: str, tracer, seconds: float):
    """Closed loop over ``order`` for about ``seconds`` (at least one
    pass). Returns the per-query samples and the job count of each
    query's first run."""
    spark = run.spark
    samples: dict[str, list[float]] = {n: [] for n in order}
    first_jobs: dict[str, int] = {}
    t_end = _now() + seconds
    passes = 0
    while True:
        t_pass = _now()
        passes += 1
        for name in order:
            run.attempted += 1
            before = tr.next_job_id(spark)
            try:
                t = _now()
                if tracer is None:
                    df = queries[name](spark, sf_dir)
                    df.write.format("noop").mode("overwrite").save()
                else:
                    with tracer.span(f"op:{name}"):
                        with tracer.span(f"build:{name}"):
                            df = queries[name](spark, sf_dir)
                        with tracer.span(f"exec:{name}"):
                            df.write.format("noop").mode("overwrite").save()
                samples[name].append(_now() - t)
            except Exception as exc:  # noqa: BLE001 — one failed query is one failure
                run.fail(f"{name}: {type(exc).__name__}: {exc}")
                continue
            first_jobs.setdefault(name, tr.next_job_id(spark) - before)
        # stop at the pass count nearest to ``seconds``, at least two
        # when timing: another pass starts only if at least half of it
        # would still fit
        if (passes >= 2 or seconds == 0) and _now() + (_now() - t_pass) / 2 > t_end:
            return samples, first_jobs


def _check_queries(run: Run, sf_dir: str) -> None:
    """Each query against its DuckDB oracle, through the repository's
    oracle harness."""
    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tests"))
    from oracle_harness import check_query

    con = duckdb.connect()
    try:
        for name in QUERIES:
            run.attempted += 1
            try:
                with warnings.catch_warnings():
                    warnings.simplefilter("ignore")
                    problems = check_query(run.spark, con, name, sf_dir)
            except Exception as exc:  # noqa: BLE001
                problems = [f"{type(exc).__name__}: {exc}"]
            if problems:
                run.fail(f"oracle {name}: {'; '.join(problems)}")
    finally:
        con.close()


# --------------------------------------------------------------------------
# sensor pipeline
# --------------------------------------------------------------------------

_PIPELINE_NAMES = {
    "data_pipeline_project_spark.pipeline_batch": (
        "run_sensor_batch", "read_sensor_csv", "header_mismatch_files", "process_sensor_frame",
    ),
}
_STREAM_NAMES = {
    "data_pipeline_project_spark.streaming.sensor_stream": ("process_sensor_frame",),
}


def _check_extra_jobs(run: Run) -> None:
    run.attempted += 1
    if run.layers["trace.extra_jobs"]:
        run.fail(f"tracing changed the Spark job count by {run.layers['trace.extra_jobs']}")


def _traced_sinks(tracer, sinks):
    for label, sink in zip(("raw", "agg", "quarantine"), sinks):
        sink.write = tracer.wrap(f"sinks:{label}", sink.write)


def _sensor_dir(files: gen.SensorFiles, target: Path, prefix: str, n: int, fault: int) -> int:
    """Write ``n`` files (file ``fault`` with a short header) into
    ``target``; returns their CSV bytes."""
    target.mkdir(parents=True)
    for i in range(n):
        name = f"{prefix}_{i:04d}.csv"
        files.write(name, header_fault=(i == fault))
        files.land(name, str(target))
    return sum(p.stat().st_size for p in target.iterdir())


def run_sensor(run: Run) -> None:
    """Stream, then batch: a closed-loop stream of new files, then timed
    ``run_sensor_batch`` calls, each over its own directory of files.
    Each writes through its own three sinks into fresh tables."""
    t = _now()
    rng = random.Random(run.seed)
    staging = str(run.work / "staging")
    warm = gen.SensorFiles(run.seed + 7919, staging, WARM_ROWS)
    _sensor_dir(warm, run.work / "warm", "warm", WARM_FILES, rng.randrange(WARM_FILES))
    files = gen.SensorFiles(run.seed, staging, ROWS_PER_FILE)
    # each ingest reads its own directory: the pipeline persists the
    # validated frame, and a second read of the same files would reuse
    # it; a traced run adds one traced ingest
    dirs = [run.work / f"batch_{k}" for k in range(INGESTS + run.traced)]
    outs = [run.work / f"out_batch_{k}" for k in range(len(dirs))]
    csv_bytes = [_sensor_dir(files, d, f"batch{k}", INGEST_FILES, rng.randrange(INGEST_FILES))
                 for k, d in enumerate(dirs)]
    for name in STREAM_WARM_FILES:
        files.write(name)
    # more files than the stream can take in ``seconds`` (a micro-batch
    # takes well over a second); the fault file is among those that
    # always land
    stream_fault = rng.randrange(STREAM_MIN_FILES)
    names = [f"stream_{i:04d}.csv" for i in range(STREAM_MIN_FILES + math.ceil(run.seconds))]
    for i, name in enumerate(names):
        files.write(name, header_fault=(i == stream_fault))
    run.gen_s = _now() - t

    spark = run.start_session()
    from data_pipeline_project_spark import pipeline_batch
    from data_pipeline_project_spark.streaming import sensor_stream

    # warm-up: one small batch compiles the validation, aggregation and
    # sink plans
    t = _now()
    _ingest_once(spark, pipeline_batch, str(run.work / "warm"), _sinks(run.work / "out_warm"))
    run.warmup_s = _now() - t
    run.setup_done()

    watch, ckpt = run.work / "watch", run.work / "checkpoint"
    watch.mkdir()
    sinks = _sinks(run.work / "out_stream")
    events: list[dict] = []
    landed: dict[str, float] = {}
    with contextlib.ExitStack() as stack:
        if run.traced:
            spark.streams.addListener(tr.progress_listener(events))
            _traced_sinks(run.tracer, sinks)
            stack.enter_context(_patched(run.tracer, _STREAM_NAMES, layer="pipeline_batch"))
        t = _now()
        query = sensor_stream.run_sensor_stream(
            spark, str(watch), *sinks, checkpoint_dir=str(ckpt),
            trigger={"processingTime": "0 seconds"},
        )
        stack.callback(query.stop)
        # stream warm-up (in setup_s): untimed files, each in a batch of
        # its own, pay the query's one-off start costs (first listing,
        # checkpoint metadata, the foreachBatch callback server, first
        # planning) and warm the per-batch code before the timed files land
        for name in STREAM_WARM_FILES:
            files.land(name, str(watch))
            run.attempted += 1
            if not _wait_committed(query, ckpt, {name}, STREAM_COMMIT_TIMEOUT_S):
                run.fail(f"stream: warm-up file {name} not committed within "
                         f"{STREAM_COMMIT_TIMEOUT_S:.0f} s")
        stream_warmup_s = _now() - t
        run.info["stream_warmup_s"] = round(stream_warmup_s, 3)
        run.warmup_s += stream_warmup_s
        run.setup_s += stream_warmup_s
        n_spans = len(run.tracer.spans) if run.traced else 0
        before = tr.next_job_id(spark)

        # closed loop: the next file lands once the previous one's batch
        # has committed, so each file is a micro-batch of its own; stop
        # at the file count nearest to ``seconds``
        t_stream = _now()
        for name in names:
            landed[name] = time.time()
            files.land(name, str(watch))
            if not _wait_committed(query, ckpt, {name}, STREAM_COMMIT_TIMEOUT_S):
                break
            elapsed = _now() - t_stream
            if len(landed) >= STREAM_MIN_FILES and elapsed + elapsed / len(landed) / 2 > run.seconds:
                break
        stream_wall = _now() - t_stream
    after = tr.next_job_id(spark)

    # the ingests run after the stream, whose batches run the same
    # validation and sink code, so they start on warm compiled code
    run.info["ingest_s"], run.info["ingest_jobs"] = [], []
    for d, out in zip(dirs[:INGESTS], outs):
        run.attempted += 1
        first_job = tr.next_job_id(spark)
        try:
            ingest_s = _ingest_once(spark, pipeline_batch, str(d), _sinks(out))
        except Exception as exc:  # noqa: BLE001 — a failed ingest is one failure
            run.fail(f"ingest: {type(exc).__name__}: {exc}")
            continue
        run.info["ingest_s"].append(ingest_s)
        run.info["ingest_jobs"].append(tr.next_job_id(spark) - first_job)
    # the median ingest: the JIT is still warming on the first one
    if run.info["ingest_s"]:
        run.rows_per_s = INGEST_FILES * ROWS_PER_FILE / _median(run.info["ingest_s"])
    if run.traced:
        layers = _traced_ingest(run, pipeline_batch, dirs[-1], csv_bytes[-1], outs[-1])

    file_batch, commit_t, start_t = _checkpoint_batches(ckpt)
    latency = {}
    for name in landed:
        run.attempted += 1
        b = file_batch.get(name)
        if b is None or b not in commit_t:
            run.fail(f"stream: {name} not committed within {STREAM_COMMIT_TIMEOUT_S:.0f} s")
            continue
        latency[name] = commit_t[b] - landed[name]
    run.ops = list(latency.values())
    batches = sorted({file_batch[n] for n in latency})
    run.info["latency"] = {n: round(v, 4) for n, v in latency.items()}
    run.info["batch_s"] = [round(commit_t[b] - start_t[b], 3) for b in batches]
    _check_sensor_outputs(run, files, run.work / "out_stream", {*STREAM_WARM_FILES, *landed},
                          streamed=True)
    for d, out in zip(dirs, outs):
        _check_sensor_outputs(run, files, out, {p.name for p in d.iterdir()})
    if not run.traced:
        return

    run.init_layers(range(before, after), stream_wall)
    run.layers.update(layers)
    _check_extra_jobs(run)
    spans = run.tracer.spans[n_spans:]
    prog = [e for e in events if e["batch"] in set(batches)]
    trigger = sum(e["duration_ms"].get("triggerExecution", 0) for e in prog) / 1e3 or stream_wall
    shares = _shares(spans, trigger)

    def phase(*keys):
        return sum(e["duration_ms"].get(k, 0) for e in prog for k in keys) / 1e3 / trigger

    run.layers.update({
        "op.batch_s": trigger / max(1, len(prog)),
        "pipeline_batch.stream_frame_share": shares.get("pipeline_batch:process_sensor_frame", 0.0),
        "sinks.stream_write_share": sum(v for k, v in shares.items() if k.startswith("sinks:")),
        "streaming.batches": len(batches),
        # from landing until the batch holding the file has written its
        # offsets: the source's polling and listing, and the WAL write
        "streaming.pickup_s": _median([start_t[file_batch[n]] - landed[n] for n in latency]),
        "streaming.planning_share": phase("queryPlanning"),
        "streaming.wal_commit_share": phase("walCommit", "commitOffsets"),
        "streaming.add_batch_share": phase("addBatch"),
    })
    run.info["progress"] = prog


def _sinks(out: Path):
    from data_pipeline_project_spark.sinks.sinks import ParquetAppendSink, ParquetUpsertSink

    return (
        ParquetAppendSink(str(out / "raw")),
        ParquetUpsertSink(str(out / "agg"), keys=AGG_KEYS, partition_by=("file_name",)),
        ParquetAppendSink(str(out / "quarantine")),
    )


def _ingest_once(spark, pipeline_batch, in_dir: str, sinks) -> float:
    raw, agg, quarantine = sinks
    t = _now()
    res = pipeline_batch.run_sensor_batch(spark, in_dir)
    raw.write(res.raw)
    agg.write(res.aggregates)
    quarantine.write(res.quarantined_rows)
    return _now() - t


def _traced_ingest(run: Run, pipeline_batch, in_dir: Path, csv_bytes: int, out: Path) -> dict:
    """One traced batch ingest; returns its per-layer metrics."""
    tracer = run.tracer
    spark = run.spark
    sinks = _sinks(out)
    _traced_sinks(tracer, sinks)
    n_spans = len(tracer.spans)
    run.attempted += 1
    before = tr.next_job_id(spark)
    with _patched(tracer, _PIPELINE_NAMES), tracer.span("op:ingest") as op:
        _ingest_once(spark, pipeline_batch, str(in_dir), sinks)
    jobs = tr.next_job_id(spark) - before
    tracer.fill_jobs(spark)
    spans = tracer.spans[n_spans:]
    total = sum(s.duration for s in spans if s.layer() == "op")
    batch = [s for s in spans if s.name == "pipeline_batch:run_sensor_batch"]
    sink_spans = [s for s in spans if s.layer() == "sinks"]
    shares = _shares(spans, total)
    build_s = sum(s.duration for s in batch)
    return {
        "build.s": build_s,
        "build.jobs": _jobs_of(_subtree(spans, {s.id for s in batch})),
        "build.share": build_s / total,
        "write.s": sum(s.duration for s in sink_spans),
        "write.jobs": _jobs_of(sink_spans),
        "pipeline_batch.header_probe_share": shares.get("pipeline_batch:header_mismatch_files", 0.0),
        "pipeline_batch.process_frame_share": shares.get("pipeline_batch:process_sensor_frame", 0.0),
        "sinks.raw_share": shares.get("sinks:raw", 0.0),
        "sinks.agg_share": shares.get("sinks:agg", 0.0),
        "sinks.quarantine_share": shares.get("sinks:quarantine", 0.0),
        "sinks.write_amplification": sum(
            tr.stage_totals(spark, s.jobs, python=False).output_bytes for s in sink_spans
        ) / csv_bytes,
        "trace.extra_jobs": jobs - run.info["ingest_jobs"][0] if run.info["ingest_jobs"] else 0,
        # against the untraced ingest just before it: ingests still speed
        # up from one to the next
        "trace.wall_ratio": op.duration / run.info["ingest_s"][-1] if run.info["ingest_s"] else 0.0,
    }


def _check_sensor_outputs(run: Run, files: gen.SensorFiles, out: Path, names: set[str],
                          streamed: bool = False) -> None:
    """Read the three sink directories under ``out`` back and compare
    them with the generator's ground truth for ``names``, the files
    written there; every mismatch is one failure."""
    import duckdb

    from data_pipeline_project_spark.operators.validation import ERROR_COL, ROW_COL

    run.attempted += 1
    con = duckdb.connect()
    try:
        def q(sql):
            return con.execute(sql).fetchall()

        if not (out / "raw").is_dir():
            run.fail(f"sensor outputs {out.name}: nothing written")
            return

        raw = dict(q(f"SELECT file_name, count(*) FROM read_parquet('{out}/raw/*.parquet') "
                     "GROUP BY 1"))
        agg = {r[0]: r[1:] for r in q(
            f"SELECT file_name, count(*), sum(record_count) FROM read_parquet("
            f"'{out}/agg/*/*.parquet', hive_partitioning = true) GROUP BY 1")}
        quar: dict[str, dict[int, str]] = {}
        quar_rows: dict[str, int] = {}
        for name, row, reason in q(
            f"SELECT file_name, {ROW_COL}, {ERROR_COL} FROM read_parquet("
            f"'{out}/quarantine/*.parquet')"
        ):
            quar_rows[name] = quar_rows.get(name, 0) + 1
            if reason:
                quar.setdefault(name, {})[row] = reason
    finally:
        con.close()

    problems = []
    for name in sorted(names):
        f = files.files[name]
        if f.good:
            if raw.get(name) != f.rows:
                problems.append(f"{name}: raw rows {raw.get(name)} != {f.rows}")
            if agg.get(name) != (f.agg_rows, 3 * f.rows):
                problems.append(f"{name}: agg (rows, record_count) {agg.get(name)} "
                                f"!= {(f.agg_rows, 3 * f.rows)}")
            if name in quar_rows:
                problems.append(f"{name}: good file in quarantine")
            continue
        if name in raw or name in agg:
            problems.append(f"{name}: bad file reached raw/agg")
        expected = f.bad_rows
        if f.missing_column is not None:
            if not streamed:
                # the batch path drops it at the header probe, and only
                # the quarantine log (not written here) names it
                if name in quar_rows:
                    problems.append(f"{name}: header-fault file in quarantined rows")
                continue
            # the stream maps the short header positionally, so every
            # row lacks the missing column
            expected = {r: f"Row {r}: '{f.missing_column}' is null."
                        for r in range(2, f.rows + 2)}
        if quar_rows.get(name) != f.rows:
            problems.append(f"{name}: quarantined rows {quar_rows.get(name)} != {f.rows}")
        got = quar.get(name, {})
        if got != expected:
            problems.append(f"{name}: reasons differ, e.g. "
                            f"{sorted(set(got.items()) ^ set(expected.items()))[:2]}")
        elif f.missing_column is None:
            first = min(got)
            if f"Validation failed at row {first}: {got[first]}" != f.k5_reason():
                problems.append(f"{name}: K5 reason differs")
    extra = (set(raw) | set(quar_rows)) - names
    if extra:
        problems.append(f"unknown files in outputs: {sorted(extra)[:3]}")
    if problems:
        run.fail(f"sensor outputs {out.name}: {'; '.join(problems[:5])}")


def _checkpoint_batches(ckpt: Path):
    """File -> batch id from the file source's log, and each batch's
    start (offsets WAL) and commit times, from file modification times.
    Reading the checkpoint starts no Spark job."""
    file_batch: dict[str, int] = {}
    src = ckpt / "sources" / "0"
    if src.is_dir():
        for p in src.iterdir():
            if p.name.startswith("."):
                continue
            for line in p.read_text().splitlines()[1:]:
                entry = json.loads(line)
                file_batch[os.path.basename(entry["path"])] = int(entry["batchId"])

    def mtimes(d: Path) -> dict[int, float]:
        if not d.is_dir():
            return {}
        return {int(p.name): p.stat().st_mtime for p in d.iterdir() if p.name.isdigit()}

    return file_batch, mtimes(ckpt / "commits"), mtimes(ckpt / "offsets")


def _wait_committed(query, ckpt: Path, names: set[str], timeout_s: float) -> bool:
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        file_batch, commits, _ = _checkpoint_batches(ckpt)
        if all(file_batch.get(n) in commits for n in names):
            return True
        time.sleep(0.05)
    return False


WORKLOADS = {
    "queries": run_queries,
    "sensor": run_sensor,
}
