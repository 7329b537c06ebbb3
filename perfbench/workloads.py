"""The benchmark's workloads, driven through the package's public functions
on ``local[4]`` in this one driver process.

* ``job_distinct`` — ``run.job.run_job``, the spark-submit batch job, over
  a 2,000-clip generator corpus, with a fresh output dir per iteration.
  The first iteration is the cold one a spark-submit user pays; the
  warm iterations after it are the steady state.
* ``stream_ticks`` — ``streaming.incremental.stream_quality_filter``
  (base tier) draining a 900-clip backlog of 18 clip_id-contiguous
  files at 2 files per trigger: 9 ticks, closed loop (``availableNow``,
  the query pulls as fast as it runs). The first leg is the cold
  operation; its first ``WARMUP_TICKS`` ticks are the warm-up, and the
  ticks after them are measured. A tick that crashes is restarted from
  the checkpoint and counted in ``attempts_per_op``.

A run sets up the session ``SETUPS`` times, runs the cold operation, then
keeps starting operations until ``--seconds`` have passed (at least
``MIN_OPS``), and checks every output against the pandas oracle after
the timed window. With ``--trace 1`` it then restarts the session with
the event log on, repeats the warm operations traced (the difference is
the tracing overhead) and runs each layer under its own job group.
"""

from __future__ import annotations

import logging
import os
import re
import shutil
import statistics
import subprocess
import time
import traceback
from dataclasses import dataclass, field

from probes import MemorySampler, old_gen_live_mb
from eventlog import EventLog, event_log_conf, layer

log = logging.getLogger("perfbench")

MASTER = "local[4]"
CORPUS_SF = {"job_distinct": 0.1, "stream_ticks": 0.045}
# 900 clips in 18 files of 50: 9 ticks of 100 clips. At 100 clips a tick
# nearly every registry bucket gets a file each tick, so buckets pass the
# compaction bound (and hit the compaction crash) at the 9th tick.
STREAM_FILES = 18
FILES_PER_TRIGGER = 2
# ticks of the first stream leg that warm the JIT up, untimed; a separate
# warm-up leg did not fit the run budget
WARMUP_TICKS = 2
SETUPS = 3
# operations the window starts at the least: warm run_job iterations
# (after the cold one), stream legs (the first is the cold one)
MIN_OPS = {"job_distinct": 2, "stream_ticks": 1}
MAX_QUERY_STARTS = 40
# the advisory rule the stream cannot fire (no global IQR fence)
STREAM_IGNORED_RULE = "dur_outlier"
# Registry queries timed in the traced job run: the headline-set
# (bench.BENCH_QUERIES) queries that read only the clip corpus. The rest
# of the set reads TESTDATA tables or /tmp fingerprint fixtures, which a
# run cannot reach inside its checkout.
REGISTRY_QUERIES = (
    "clips_decisions_labels",
    "clips_findings_summary",
    "audio_features",
    "vad_segments",
    "audio_chunks",
    "audio_resample_stats",
    "audio_fingerprints",
)


@dataclass
class Run:
    """One benchmark run: its settings, inputs and what it measured."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    workdir: str
    corpus: object
    labels: object
    stream_input: str | None = None
    values: dict = field(default_factory=dict)  # end-to-end metrics
    layers: dict = field(default_factory=dict)  # per-layer metrics
    detail: dict = field(default_factory=dict)  # diagnostics for the log
    attempted: int = 0
    failed: int = 0
    old_gen_live: list = field(default_factory=list)  # MB, after each operation

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)


# ---- session ---------------------------------------------------------------


def _bring_up(run: Run, extra_conf: dict):
    """get_spark + package ship + Python workers and text models warm +
    the input opened."""
    from data_quality_checker_spark.functions.udfs import get_udfs
    from data_quality_checker_spark.session import get_spark

    # get_udfs caches the UDF objects, and each keeps the JVM function (with
    # the context's accumulator) it was first built with; a new context
    # needs new ones, as a new process would have
    get_udfs.cache_clear()
    spark = get_spark(
        app_name=f"perfbench-{run.workload}", master=MASTER, extra_conf=extra_conf
    )
    u = get_udfs()
    with layer(spark, "session"):
        spark.createDataFrame(
            [("warm up the python workers and the text models",)] * 64,
            "transcript string",
        ).repartition(4).select(
            u["langid"]("transcript"), u["perplexity"]("transcript"), u["scrub"]("transcript")
        ).write.format("noop").mode("overwrite").save()
        spark.read.parquet(run.corpus.path).schema
    return spark


def base_conf(run: Run) -> dict:
    tmp = run.path("tmp")
    return {
        "spark.local.dir": run.path("spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": run.path("warehouse"),
    }


def setup(run: Run, since: float):
    """Bring the session up ``SETUPS`` times; the first from ``since``
    (process start, less the excluded input preparation), the rest after
    stopping the context in the live JVM. setup_s is their median."""
    walls = []
    spark = None
    for i in range(SETUPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = _bring_up(run, base_conf(run))
        walls.append(time.perf_counter() - (since if i == 0 else t0))
    run.values["setup_s"] = statistics.median(walls)
    run.detail["setup_walls_s"] = walls
    return spark


def restart_traced(run: Run, spark):
    spark.stop()
    t0 = time.perf_counter()
    spark = _bring_up(run, {**base_conf(run), **event_log_conf(run.path("eventlog"))})
    run.layers["session.wall_s"] = time.perf_counter() - t0
    return spark


def stop_and_fold(run: Run, spark) -> EventLog:
    app_id = spark.sparkContext.applicationId
    spark.stop()  # flushes and closes the event log
    return EventLog.of_app(run.path("eventlog"), app_id)


def shutdown_jvm() -> None:
    """Stop the JVM the gateway launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---- shared helpers --------------------------------------------------------


def _count_parquet(root: str) -> int:
    return sum(
        1 for _d, _s, files in os.walk(root) for f in files if f.endswith(".parquet")
    )


def _agreement(decisions, labels, ignore: str | None = None) -> tuple[int, int]:
    """(clips whose keep, rules_fired and scrubbed transcript equal the
    oracle's, clips compared). A missing or repeated decision counts as
    a disagreement."""
    import pandas as pd

    def rules(seq) -> str:
        return ",".join(sorted(r for r in seq if r and r != ignore))

    total = max(len(labels), len(decisions))
    if decisions["clip_id"].duplicated().any():
        return 0, total
    d = decisions.set_index("clip_id")
    joined = labels.join(d, how="inner")
    same = (
        (joined["keep"] == joined["keep_act"])
        & (joined["rules"].map(lambda s: rules(s.split(","))) == joined["rules_act"].map(rules))
        & (
            (joined["scrubbed"] == joined["scrubbed_act"])
            | (pd.isna(joined["scrubbed"]) & pd.isna(joined["scrubbed_act"]))
        )
    )
    return int(same.sum()), total


def _read_decisions(path: str):
    import pyarrow.parquet as pq

    t = pq.read_table(
        path, columns=["clip_id", "keep", "rules_fired", "scrubbed_transcript"]
    ).to_pandas()
    return t.rename(
        columns={
            "keep": "keep_act",
            "rules_fired": "rules_act",
            "scrubbed_transcript": "scrubbed_act",
        }
    )


def _attempt(run: Run, what: str, fn):
    """Run one operation; a raised error counts it as failed."""
    run.attempted += 1
    try:
        return fn()
    except Exception:
        run.failed += 1
        log.error("%s failed:\n%s", what, traceback.format_exc())
        return None


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _collect(run: Run, spark) -> None:
    """After an operation, outside its timing: a full GC, then the old-gen
    data the Spark driver still holds. Each operation starts on a collected
    heap."""
    run.old_gen_live.append(old_gen_live_mb(spark))


def _memory_metrics(run: Run, mem: MemorySampler) -> None:
    run.values["jvm_old_gen_live_mb"] = max(run.old_gen_live)
    run.detail["old_gen_live_mb"] = run.old_gen_live
    # bimodal from run to run, so per-layer diagnostics only
    run.layers["jvm.rss_peak_mb"] = mem.jvm_peak / 2**20
    run.layers["workers.pss_peak_mb"] = mem.workers_peak / 2**20


def _window(run: Run, op) -> list[float]:
    """Start ``op`` until ``run.seconds`` have passed, at least
    ``MIN_OPS`` times; the walls of those that completed."""
    walls: list[float] = []
    t0 = time.perf_counter()
    n = 0
    while n < MIN_OPS[run.workload] or time.perf_counter() - t0 < run.seconds:
        wall = op(n)
        n += 1
        if wall is not None:
            walls.append(wall)
    return walls


# ---- job_distinct ----------------------------------------------------------


def job_distinct(run: Run, spark):
    from data_quality_checker_spark.run.job import run_job

    outputs: list[str] = []

    def iteration(tag: str):
        out = run.path("job", tag)

        def call() -> float:
            t0 = time.perf_counter()
            run_job(spark, run.corpus.path, out, run_id=tag)
            wall = time.perf_counter() - t0
            outputs.append(out)
            _collect(run, spark)
            return wall

        return _attempt(run, f"run_job {tag}", call)

    with MemorySampler(_jvm_pid()) as mem:
        first = iteration("cold")
        warm = _window(run, lambda i: iteration(f"warm{i:03d}"))
    _memory_metrics(run, mem)
    if first is None or not warm:
        raise RuntimeError("no run_job iteration completed")

    agree = total = 0
    for out in outputs:
        a, t = _agreement(_read_decisions(os.path.join(out, "decisions")), run.labels)
        agree, total = agree + a, total + t
        if a != t:
            run.failed += 1
            log.error("%s: %d of %d clips disagree with the oracle", out, t - a, t)
    files = [_count_parquet(out) for out in outputs]
    run.values.update(
        first_run_s=first,
        op_p50_s=statistics.median(warm),
        clips_per_s=run.corpus.n_clips / statistics.median(warm),
        attempts_per_op=run.attempted / len(outputs),
        label_agreement=agree / total,
        files_written=statistics.median(files),
    )
    run.detail.update(warm_walls_s=warm, files_written=files)
    for out in outputs:
        shutil.rmtree(out, ignore_errors=True)

    if run.trace:
        spark = _trace_job(run, spark, len(warm))
    return spark


def _trace_job(run: Run, spark, n_warm: int):
    from data_quality_checker_spark.config import DEFAULT_CONFIG as cfg
    from data_quality_checker_spark.operators.dedup import keepers_by_sha
    from data_quality_checker_spark.operators.outliers import iqr_bounds
    from data_quality_checker_spark.pipeline import (
        audio_stats_table,
        decide,
        enrich,
        enrich_text,
        hashed_frame,
    )
    from data_quality_checker_spark.run.job import run_job

    spark = restart_traced(run, spark)

    def traced_job(tag: str) -> float:
        with layer(spark, tag):
            t0 = time.perf_counter()
            run_job(spark, run.corpus.path, run.path("trace", tag), run_id=tag)
            return time.perf_counter() - t0

    traced_job("run_job.warmup")
    walls = [traced_job(f"run_job.{i}") for i in range(n_warm)]
    last = f"run_job.{n_warm - 1}"
    out = run.path("trace", last)
    for table in ("decisions", "findings", "lineage"):
        run.layers[f"run_job.files.{table}"] = _count_parquet(os.path.join(out, table))
    run.layers["run_job.wall_s"] = walls[-1]
    run.layers["trace.overhead_s"] = statistics.median(walls) - run.values["op_p50_s"]

    clips = spark.read.parquet(run.corpus.path)
    wall: dict[str, float] = {}

    def timed(name: str, fn):
        with layer(spark, name):
            t0 = time.perf_counter()
            result = fn()
            wall[name] = time.perf_counter() - t0
        return result

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    bounds = timed(
        "iqr_bounds",
        lambda: iqr_bounds(clips, "dur_ms", cfg.outlier_iqr_mult, cfg.outlier_min_rows),
    )
    timed("hashed_frame", lambda: noop(hashed_frame(clips)))
    timed("enrich_text", lambda: noop(enrich_text(clips, cfg)))
    timed("audio_stats_table", lambda: noop(audio_stats_table(clips, cfg)))
    timed(
        "keepers_by_sha",
        lambda: noop(keepers_by_sha(hashed_frame(clips).select("clip_id", "sha"), cfg)),
    )
    enriched = enrich(clips, cfg).persist()
    with layer(spark, "decide.input"):
        enriched.count()
    timed("decide", lambda: noop(decide(enriched, cfg, bounds, clips=clips)))
    enriched.unpersist()
    _time_registry_queries(run, spark, timed, noop)

    ev = stop_and_fold(run, spark)
    L = run.layers
    L["session.py_boot_s"] = ev.group_summary("session")["py_boot_s"]
    for name, w in wall.items():
        L[f"{name}.wall_s"] = w
    s = {name: ev.group_summary(name) for name in wall}
    L["iqr_bounds.spark_jobs"] = s["iqr_bounds"]["spark_jobs"]
    L["hashed_frame.spark_jobs"] = s["hashed_frame"]["spark_jobs"]
    L["hashed_frame.scan_mb"] = s["hashed_frame"]["scan_mb"]
    for k in ("py_boot_s", "py_init_s", "py_run_s", "py_sent_mb"):
        L[f"enrich_text.{k}"] = s["enrich_text"][k]
    L["audio_stats_table.spark_jobs"] = s["audio_stats_table"]["spark_jobs"]
    L["audio_stats_table.reps"] = s["audio_stats_table"]["py_rows_out"]
    L["audio_stats_table.py_run_s"] = s["audio_stats_table"]["py_run_s"]
    L["audio_stats_table.py_sent_mb"] = s["audio_stats_table"]["py_sent_mb"]
    L["keepers_by_sha.shuffle_mb"] = s["keepers_by_sha"]["shuffle_mb"]

    job = ev.group_summary(last)
    L["run_job.spark_jobs"] = job["spark_jobs"]
    L["run_job.stages"] = job["stages"]
    L["run_job.bytes_written_mb"] = job["written_mb"]
    _fold_run_job_writes(run, ev, last)
    return None  # the traced session is stopped


def _time_registry_queries(run: Run, spark, timed, noop) -> None:
    """Time REGISTRY_QUERIES over the run's corpus. The registry reads
    its clip corpus from ``queries._clips_path``, a fixed /tmp cache;
    for these calls it points at the run's corpus instead."""
    from data_quality_checker_spark import queries as registry

    qs = registry.queries()
    saved = registry._clips_path
    registry._clips_path = lambda _sf_dir: run.corpus.path
    try:
        for name in REGISTRY_QUERIES:
            timed(f"query.{name}", lambda: noop(qs[name](spark, run.workdir)))
            spark.catalog.clearCache()
    finally:
        registry._clips_path = saved


def _fold_run_job_writes(run: Run, ev: EventLog, group: str) -> None:
    """Attribute run_job's SQL executions by the table they write. The
    decisions write carries the fused enrich/decide pipeline; the
    findings write, the lineage collect and the lineage append follow
    it, and their walls make ``run_job.write_s``. ``run_job.commit_s`` is
    the task and job commit time of all three table writes."""
    from eventlog import JOB_COMMIT, TASK_COMMIT

    def table(ex) -> str | None:
        path = ex.write_path()
        return os.path.basename(path.rstrip("/")) if path else None

    execs = ev.group_execs(group)
    dec = [ex for ex in execs if table(ex) == "decisions"]
    if len(dec) != 1:
        raise RuntimeError(f"expected one decisions write in run_job, found {len(dec)}")
    after = [ex for ex in execs if ex.exec_id > dec[0].exec_id]
    writes = [ex for ex in execs if table(ex)]
    run.layers["run_job.decisions_exec_s"] = dec[0].wall_s
    run.layers["run_job.write_s"] = sum(ex.wall_s for ex in after)
    run.layers["run_job.commit_s"] = ev.sql_metric(writes, TASK_COMMIT) + ev.sql_metric(
        writes, JOB_COMMIT
    )
    run.detail["run_job_executions"] = [
        (ex.exec_id, ex.call_site, table(ex), ex.wall_s) for ex in execs
    ]


# ---- stream_ticks ----------------------------------------------------------


_ERROR_CLASS = re.compile(r"\[([A-Z][A-Z_]+(?:\.[A-Z_]+)*)\]")
_WRAPPERS = {"STREAM_FAILED", "FOREACH_BATCH_USER_FUNCTION_ERROR"}


@dataclass
class Leg:
    wall_s: float
    end: float  # time.time() at the end of the leg
    ticks: list  # StreamingQueryProgress of the ticks that completed
    failed_ticks: int
    errors: list[str]
    out: str
    state: str


def _leg(spark, input_dir: str, root: str) -> Leg:
    """Drain ``input_dir`` through stream_quality_filter; restart from the
    checkpoint after each crash, up to MAX_QUERY_STARTS starts."""
    from pyspark.errors import StreamingQueryException

    from data_quality_checker_spark.streaming.incremental import stream_quality_filter

    shutil.rmtree(root, ignore_errors=True)
    out, state = os.path.join(root, "out"), os.path.join(root, "state")
    ticks, errors = [], []
    t0 = time.perf_counter()
    for _start in range(MAX_QUERY_STARTS):
        q = stream_quality_filter(
            spark,
            input_dir,
            out,
            os.path.join(root, "checkpoint"),
            state,
            max_files_per_trigger=FILES_PER_TRIGGER,
        )
        try:
            q.awaitTermination()
            done = True
        except StreamingQueryException as exc:
            done = False
            classes = [c for c in _ERROR_CLASS.findall(str(exc)) if c not in _WRAPPERS]
            errors.append(",".join(dict.fromkeys(classes)) or type(exc).__name__)
        ticks += [p for p in q.recentProgress if p.numInputRows > 0]
        if done:
            wall = time.perf_counter() - t0
            return Leg(wall, time.time(), ticks, len(errors), errors, out, state)
    raise RuntimeError(f"stream did not drain in {MAX_QUERY_STARTS} starts: {errors[-3:]}")


def _warm_ticks(legs: list[Leg]) -> tuple[list, float]:
    """The ticks after the warm-up ticks, and the wall they took: from
    the trigger start of the first of them to the end of the last leg,
    crashed attempts and restarts included."""
    from datetime import datetime

    warm, wall = [], 0.0
    for i, leg in enumerate(legs):
        ticks = leg.ticks[WARMUP_TICKS:] if i == 0 else leg.ticks
        if i == 0:
            start = datetime.fromisoformat(ticks[0].timestamp).timestamp()
            wall += leg.end - start
        else:
            wall += leg.wall_s
        warm += ticks
    return warm, wall


def _check_leg(run: Run, leg: Leg) -> tuple[int, int]:
    """Exactly one decision per input clip, labels equal to the oracle's
    (the advisory dur_outlier aside)."""
    a, t = _agreement(_read_decisions(leg.out), run.labels, ignore=STREAM_IGNORED_RULE)
    if a != t:
        run.failed += 1
        log.error("%s: %d of %d clips disagree with the oracle", leg.out, t - a, t)
    return a, t


def _tick_s(ticks: list) -> list[float]:
    return [p.durationMs["triggerExecution"] / 1e3 for p in ticks]


def stream_ticks(run: Run, spark):
    legs: list[Leg] = []

    def leg(i: int) -> float | None:
        done = _attempt(
            run, f"stream leg {i}", lambda: _leg(spark, run.stream_input, run.path("stream", f"leg{i}"))
        )
        if done is None:
            return None
        _collect(run, spark)
        legs.append(done)
        return done.wall_s

    with MemorySampler(_jvm_pid()) as mem:
        _window(run, leg)
    _memory_metrics(run, mem)
    if not legs or len(legs[0].ticks) <= WARMUP_TICKS:
        raise RuntimeError("no stream leg drained")

    agree = total = 0
    for done in legs:
        a, t = _check_leg(run, done)
        agree, total = agree + a, total + t
    warm, warm_wall = _warm_ticks(legs)
    ok = sum(len(x.ticks) for x in legs)
    # Decision files only: the registry files a leg leaves vary with the
    # seed's bucket collisions (78-114 over ten seeds), which no bound on
    # one metric can hold; the traced run reports them as registry.files.
    files = [_count_parquet(x.out) for x in legs]
    # numInputRows counts every re-read of the batch inside foreachBatch,
    # so clips come from the tick count: each tick takes 2 equal files
    clips_per_tick = run.corpus.n_clips * len(legs) / ok
    run.values.update(
        first_run_s=legs[0].wall_s,
        clips_per_s=clips_per_tick * len(warm) / warm_wall,
        op_p50_s=statistics.median(_tick_s(warm)),
        attempts_per_op=(ok + sum(x.failed_ticks for x in legs)) / ok,
        label_agreement=agree / total,
        files_written=statistics.median(files),
    )
    run.detail.update(
        leg_walls_s=[x.wall_s for x in legs],
        warm_wall_s=warm_wall,
        tick_ms=[[p.durationMs["triggerExecution"] for p in x.ticks] for x in legs],
        failed_ticks=[x.failed_ticks for x in legs],
        errors=sorted({e for x in legs for e in x.errors}),
        files_written=files,
        registry_files=[_count_parquet(x.state) for x in legs],
    )
    if run.trace:
        spark = _trace_stream(run, spark)
    return spark


def _trace_stream(run: Run, spark):
    from eventlog import FILES_READ

    spark = restart_traced(run, spark)
    leg = _leg(spark, run.stream_input, run.path("trace", "leg"))
    ev = stop_and_fold(run, spark)
    warm, _wall = _warm_ticks([leg])
    L = run.layers
    L["session.py_boot_s"] = ev.group_summary("session")["py_boot_s"]
    L["trace.overhead_s"] = statistics.median(_tick_s(warm)) - run.values["op_p50_s"]
    L["tick.count"] = len(leg.ticks)
    L["tick.failed"] = leg.failed_ticks
    L["tick.spark_jobs"] = statistics.median(
        len(ev.batch_jobs(str(p.runId), p.batchId)) for p in leg.ticks
    )
    L["tick.add_batch_s"] = statistics.median(p.durationMs["addBatch"] / 1e3 for p in leg.ticks)
    L["tick.wal_commit_s"] = statistics.median(
        p.durationMs.get("walCommit", 0) / 1e3 for p in leg.ticks
    )
    L["restart_s"] = leg.wall_s - sum(_tick_s(leg.ticks))
    L["registry.files"] = _count_parquet(leg.state)
    run_ids = {str(p.runId) for p in leg.ticks}
    execs = [ex for ex in ev.execs.values() if ex.group in run_ids]
    L["registry.files_read"] = ev.sql_metric(execs, FILES_READ, node="Scan", where="sha_registry")
    L["registry.compactions"] = sum(
        1 for ex in execs if ".sha_compact_tmp_" in (ex.write_path() or "")
    )
    return None
