"""Submission-flow benchmark: one desktop session per run.

    python3 flowbench/run.py --workload wide_xpt --seed 1 --seconds 20 --trace 0

Run from the repository root. A run generates the workload's inputs
from ``--seed``, starts a fresh Spark session on ``local[1]``
(``setup_s``: ``get_spark`` plus the built-in CT lookup), then runs
the flow of ``flow.py`` in a closed loop — one client, each flow
starting when the previous one ends — until ``--seconds`` have passed,
at least once. The first flow is the cold one a desktop user's single
export pays; the timing metrics are that flow's and the set-up's, each
scaled to a reference host speed measured beside it
(``hostspeed.py``). Every flow's outputs are checked against the
generator's manifest (``check.py``).

With ``--trace 1`` one cold flow runs instrumented (``tracing.py``)
and the run reports the per-layer metrics instead of the end-to-end
ones.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(ROOT), str(HERE)]

# the package must import before anything else happens: without it
# the run fails here, before printing a result
from trial_submission_studio_spark.session import get_spark  # noqa: E402
from trial_submission_studio_spark.standards import ct_catalog  # noqa: E402

import check  # noqa: E402
import flow  # noqa: E402
import gen  # noqa: E402
import hostspeed  # noqa: E402
import tracing  # noqa: E402

FORMATS = {"tall_xml": "xml", "wide_xpt": "xpt"}
#: task slots. One: the JVM's compiler and GC threads, the driver, the
#: Python workers and the host-speed sampler then fit the host's few
#: vCPUs beside it, and a cold flow on these input sizes ran no slower
#: than on local[2] or local[4] (all are fixed-cost bound).
CPUS = 1
RUN_LIMIT_S = 170


class RunTimeout(BaseException):
    """Raised by the watchdog. A BaseException, so the flow's
    per-dataset error handling cannot swallow it."""


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _jvm_proc():
    from pyspark import SparkContext

    return SparkContext._gateway.proc


def _stop(spark) -> None:
    """Stop the session and wait until the JVM it launched has ended."""
    proc = _jvm_proc()
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _setup(work: Path, tracer):
    """Start the session and build the CT lookup; returns the session
    and both durations. With a tracer, both are spans and the session
    writes a local event log."""
    conf = {
        "spark.local.dir": str(work / "local"),
        "spark.ui.showConsoleProgress": "false",
        # keep the JVM's temp files inside the checkout (perf data
        # would otherwise go to /tmp)
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    if tracer:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    with tracer.span("session", "spark") if tracer else contextlib.nullcontext():
        spark = get_spark(
            app_name="flowbench", master=f"local[{CPUS}]", shuffle_partitions=CPUS, extra_conf=conf
        )
    t1 = time.perf_counter()
    if tracer:
        tracer.sc = spark.sparkContext
    with tracer.span("standards", "ct") if tracer else contextlib.nullcontext():
        ct_catalog.builtin_lookup_df(spark)
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def _unit(name: str) -> str:
    metric = name.split(".", 1)[1]
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("bytes"):
        return "bytes"
    return "count"


def _per_layer(tracer, cold: flow.FlowResult, event_log: str, extra: dict) -> tuple[dict, dict]:
    """Per-layer metrics of the traced flow, and the record kept on
    disk (spans and jobs as well)."""
    jobs, stages = tracing.parse_event_log(event_log)
    spans, c = tracer.spans, tracer.counters

    def span_s(*names):
        return sum(s.end - s.start for s in spans if s.name in names)

    metrics = {k: (v, _unit(k)) for k, v in tracing.layer_metrics(spans, jobs, stages).items()}
    metrics.update({
        "sources.bytes_in": (c["sources.bytes_in"], "bytes"),
        "mapping.suggest_s": (span_s("new"), "s"),
        "mapping.pairs_scored": (c["mapping.pairs_scored"], "count"),
        "normalize.compile_s": (span_s("infer_rules", "compile_pipeline"), "s"),
        "normalize.py4j_calls": (sum(s.py4j for s in spans if s.module == "normalize"), "count"),
        "validation.calls": (c["validation.calls"], "count"),
        "validation.issues": (len(cold.issues), "count"),
        "reshape.supp_rows": (sum(n for k, n in cold.preview_rows.items() if k.startswith("SUPP")), "count"),
        "xpt.bytes_out": (c["xpt.bytes_out"], "bytes"),
        "dataset_xml.bytes_out": (c["dataset_xml.bytes_out"], "bytes"),
        **extra,
        **{f"stage.{k}_s": (v, "s") for k, v in cold.stage_s.items()},
        "trace.submission_s": (cold.submission_s, "s"),
        "trace.overhead_s": (tracer.bookkeeping_s, "s"),
        "trace.unattributed_jobs": (
            sum(1 for j in jobs.values() if tracing.module_of(j.group) not in (*tracing.MODULES, "host")),
            "count",
        ),
    })
    record = {
        "metrics": {k: v for k, (v, _) in metrics.items()},
        "spans": [s.__dict__ for s in spans],
        "jobs": [j.__dict__ for j in sorted(jobs.values(), key=lambda j: j.job_id)],
    }
    return metrics, record


def main() -> int:
    ap = argparse.ArgumentParser(description="submission-flow benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(FORMATS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    fmt = FORMATS[args.workload]

    def on_alarm(signum, frame):
        raise RunTimeout(f"run exceeded {RUN_LIMIT_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(RUN_LIMIT_S)

    base = ROOT / ".flowbench"
    work = base / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("data", "tmp", "local"):
        (work / d).mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    data = str(work / "data")

    spark = None
    flows: list[flow.FlowResult] = []
    attempted = failed = 0
    host = hostspeed.Sampler()
    try:
        manifest = gen.generate(data, gen.WORKLOAD_SHAPE[args.workload], args.seed)
        tracer = tracing.Tracer() if args.trace else None
        host.start()
        t0 = time.monotonic()
        spark, session_s, ct_s = _setup(work, tracer)
        setup_speed = host.speed(t0, time.monotonic())

        t_start = time.perf_counter()
        while not flows or (not tracer and time.perf_counter() - t_start < args.seconds):
            out_dir = str(work / f"out{len(flows)}")
            if tracer:
                sc = spark.sparkContext
                sc.setJobGroup("bench:other:-", "flowbench", False)
                with tracing.instrument(tracer), tracer.count_py4j(sc._gateway._gateway_client):
                    res = flow.run_flow(spark, data, manifest, out_dir, fmt, tracer.span)
            else:
                t0 = time.monotonic()
                res = flow.run_flow(spark, data, manifest, out_dir, fmt)
                if not flows:
                    cold_speed = host.speed(t0, time.monotonic())
            a, f, msgs = check.check_outputs(out_dir, manifest, fmt, res.issues, res.preview_rows)
            attempted += res.attempted + a
            failed += res.failed + f
            for m in res.errors + msgs:
                print(f"flow {len(flows)}: {m}", file=sys.stderr)
            shutil.rmtree(out_dir, ignore_errors=True)
            flows.append(res)

        cold = flows[0]
        if not tracer:
            cold_s = cold.submission_s * cold_speed
            metrics = {
                "setup_s": ((session_s + ct_s) * setup_speed, "s"),
                "cold_submission_s": (cold_s, "s"),
                "rows_per_s": (manifest["source_rows"] / cold_s, "rows/s"),
            }
        else:
            extra = {
                "session.start_s": (session_s, "s"),
                "session.peak_rss_mb": (_vm_hwm_mb("self") + _vm_hwm_mb(_jvm_proc().pid), "MB"),
                "standards.ct_lookup_s": (ct_s, "s"),
            }
            extra.update({k: (v, "s") for k, v in tracing.host_controls(spark).items()})
            _stop(spark)  # flushes and closes the event log
            spark = None
            (log,) = (work / "eventlog").iterdir()
            metrics, record = _per_layer(tracer, cold, str(log), extra)
            with open(base / f"trace_{args.workload}.json", "w", encoding="utf-8") as fh:
                json.dump({"workload": args.workload, "seed": args.seed, **record}, fh, indent=1)
    finally:
        if spark is not None:
            _stop(spark)
        host.stop()
        shutil.rmtree(work, ignore_errors=True)
    signal.alarm(0)

    print(
        f"{args.workload}: {len(flows)} flow(s), cold flow "
        + " ".join(f"{k}={v:.3f}" for k, v in cold.stage_s.items())
        + f" total={cold.submission_s:.3f}; setup={session_s + ct_s:.3f}"
        + (f" unscaled, x{cold_speed:.3f} and x{setup_speed:.3f} to reference speed" if not tracer else "")
        + f", {failed}/{attempted} operations failed",
        file=sys.stderr,
    )
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
