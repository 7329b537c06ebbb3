"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload job_distinct --seed 1 --seconds 10 --trace 0

Run from the repository root. The workloads, metrics and bounds are in
``BENCHMARK.json``; ``perfbench/README.md`` says what each one measures.
Progress and diagnostics go to stderr and to
``.perfbench/results/<workload>-seed<seed>-trace<t>.json``; the last
line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``
with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). A per-layer metric of a layer the workload does not run
reads 0.

Exit codes: 0 with a result; 2 when the package cannot be imported;
3 when an input differs from its pinned digest; 1 on any other error.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import logging  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import inputs  # noqa: E402
from probes import host_stamp  # noqa: E402

log = logging.getLogger("perfbench")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _args(spec: dict) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _prepare(args, workdir: str, pins: dict):
    """The run's inputs and oracle labels (excluded from setup_s)."""
    import workloads

    inputs.check_generator(pins, workdir)
    c = inputs.corpus(workloads.CORPUS_SF[args.workload], args.seed, pins)
    run = workloads.Run(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        workdir=workdir,
        corpus=c,
        labels=inputs.oracle_labels(c),
    )
    if args.workload == "stream_ticks":
        run.stream_input = inputs.stream_dir(c, workloads.STREAM_FILES)
    return run


def _result(spec: dict, run) -> dict:
    if run.trace:
        wanted = spec["per_layer"]
        values = {m["name"]: run.layers.get(m["name"], 0) for m in wanted}
    else:
        wanted = spec["end_to_end"]
        missing = [m["name"] for m in wanted if m["name"] not in run.values]
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
        values = run.values
    return {
        "correct": run.failed == 0 and run.values.get("label_agreement") == 1.0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }


def main() -> int:
    spec = _spec()
    args = _args(spec)
    logging.basicConfig(level=logging.INFO, format="# %(message)s", stream=sys.stderr)
    logging.getLogger("py4j").setLevel(logging.WARNING)
    try:
        import data_quality_checker_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        log.error("cannot import the program: %s", exc)
        return 2

    import workloads

    state = inputs.STATE
    workdir = os.path.join(state, "work", str(os.getpid()))
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    # keep every scratch file of this process and its JVM inside the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    # no hsperfdata file in /tmp from the launcher and driver JVMs
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:+PerfDisableSharedMem"
    os.environ["SPARK_DRIVER_MEMORY"] = "4g"
    spark = None
    try:
        t_excluded = time.perf_counter()
        host = host_stamp()
        try:
            run = _prepare(args, workdir, inputs.load_pins())
        except inputs.InputDrift as exc:
            log.error("input drift, the run is not comparable: %s", exc)
            return 3
        excluded = time.perf_counter() - t_excluded
        log.info("inputs ready in %.1f s: %s (%d clips)", excluded, run.corpus.path, run.corpus.n_clips)

        spark = workloads.setup(run, since=T_PROCESS + excluded)
        log.info("setup %s", ["%.2f" % w for w in run.detail["setup_walls_s"]])
        body = getattr(workloads, args.workload)
        spark = body(run, spark)
        host_end = host_stamp()
        run.layers["host.load_avg_1m"] = host["load_avg_1m"]
        run.layers["host.cpu_calib_s"] = host["cpu_calib_s"]
        result = _result(spec, run)
    finally:
        if spark is not None:
            spark.stop()
        workloads.shutdown_jvm()
        shutil.rmtree(workdir, ignore_errors=True)

    os.makedirs(os.path.join(state, "results"), exist_ok=True)
    record = {
        "args": vars(args),
        "corpus": {"path": run.corpus.path, "sha256": run.corpus.digest, "clips": run.corpus.n_clips},
        "host_start": host,
        "host_end": host_end,
        "end_to_end": run.values,
        "per_layer": run.layers,
        "detail": run.detail,
        "result": result,
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(state, "results", name), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for k, v in sorted({**run.values, **(run.layers if run.trace else {})}.items()):
        log.info("%-34s %s", k, v)
    log.info("host: start %s end %s", host, host_end)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
