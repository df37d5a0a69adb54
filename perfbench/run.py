"""Benchmark entry point.

    python3 perfbench/run.py --workload pip_tile --seed 1 --seconds 10 --trace 0

Runs one workload on local[nproc] as a closed loop, one job at a time,
checks its outputs against independent oracles and prints one JSON
object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(spans, Spark job groups, SQL plan metrics and the Spark event log).
The same object, with run details, is written to
perfbench/.out/<workload>-s<seed>-t<trace>-<pid>/result.json. Spark's own
stdout/stderr go to spark.log beside it. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
WARM_S = 2.0

# (name, unit) — the order BENCHMARK.json lists them in
END_TO_END = [
    ("items_per_s", "1/s"),
    ("rep_s", "s"),
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
]
PER_LAYER = [
    ("scan.s", "s"), ("scan.bytes", "B"), ("scan.files", "count"),
    ("spans.decode_s", "s"), ("joins.geom_select_s", "s"),
    ("joins.pip_s", "s"), ("joins.codegen_s", "s"),
    ("arrow.python_s", "s"), ("arrow.bytes_sent", "B"), ("arrow.bytes_recv", "B"),
    ("tiling.assign_tiles_s", "s"),
    ("index.kernel_pts_per_s", "1/s"), ("geomlite.poly_parse_rows_per_s", "1/s"),
    ("joins.rows_out", "count"), ("joins.null_rows", "count"), ("joins.poly_rows", "count"),
    ("index.build_s", "s"), ("index.cover_bytes", "B"), ("index.cands_per_point", "count"),
    ("checkpoint.stage_s", "s"), ("checkpoint.bytes_written", "B"),
    ("checkpoint.files_written", "count"), ("checkpoint.resume_s", "s"),
    ("skew.layout_s", "s"), ("skew.shuffle_bytes", "B"),
    ("layout.query_s", "s"), ("layout.scan_bytes", "B"), ("layout.files_read", "count"),
    ("layout.rows_kept_ratio", "ratio"), ("out_bytes_per_doc", "B"),
    ("geotiff.write_s", "s"), ("geotiff.read_s", "s"),
    ("ehdr.write_s", "s"), ("ehdr.read_s", "s"),
    ("tiling.overview_s", "s"), ("tiling.warp_s", "s"),
    ("shuffle.bytes", "B"), ("shuffle.spill_bytes", "B"),
    ("joins.extract_geom_s", "s"), ("knn.join_s", "s"), ("knn.jobs", "count"),
    ("text.signatures_s", "s"), ("text.lsh_s", "s"), ("text.pairs_kept_ratio", "ratio"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("probe.s", "s"), ("synth.stage_s", "s"), ("fail_frac", "ratio"),
    ("trace.rep_s", "s"), ("trace.overhead_frac", "ratio"),
]
# per-layer times read off the span of the same name in traced reps
SPAN_TIMED = [
    "checkpoint.stage_s", "checkpoint.resume_s", "skew.layout_s", "layout.query_s",
    "geotiff.write_s", "geotiff.read_s", "ehdr.write_s", "ehdr.read_s",
    "tiling.overview_s", "tiling.warp_s",
]


class Run:
    """Everything one invocation shares with the workload it drives."""

    def __init__(self, args, run_dir: str, tracer, say):
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.data_dir = os.path.join(run_dir, "data")
        self.tracer = tracer
        self.say = say
        self.spark = None
        self.notes: dict[str, list[float]] = {}
        self.cores = len(os.sched_getaffinity(0))

    def note(self, key: str, value: float) -> None:
        self.notes.setdefault(key, []).append(value)

    def conf(self) -> dict:
        conf = {
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": "-Xms1g",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            ev = os.path.join(self.run_dir, "events")
            os.makedirs(ev, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + ev,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        return conf

    def launch_jvm(self) -> None:
        """Start the JVM without a SparkContext, so that set-up time
        measures session start on a running JVM."""
        from pyspark import SparkConf, SparkContext

        SparkContext._ensure_initialized(conf=SparkConf().setAll(self.conf().items()))

    def start_spark(self) -> None:
        from gdal_spark.session import get_spark

        self.spark = get_spark("perfbench", cpus=self.cores, extra_conf=self.conf())
        self.tracer.bind(self.spark.sparkContext)


def isolate(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    jvm_opts = f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):  # the JVM and its launcher
        os.environ[var] = (os.environ.get(var, "") + jvm_opts).strip()


def stop_everything(run: Run) -> None:
    """Stop Spark, the JVM and every process this run started; wait for
    each to end."""
    from pyspark import SparkContext

    import harness

    kids = harness.descendants(os.getpid())
    if run.spark is not None:
        run.spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def git_sha() -> str:
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def measure(run: Run, wl, seconds: float) -> dict:
    """Set up SETUPS times, check, then run reps for `seconds`."""
    import harness as H

    tr = run.tracer
    t0 = time.perf_counter()
    wl.stage(run)
    stage_s = time.perf_counter() - t0

    attempted = failed = 0
    errors: list[str] = []

    def judge(errs, what):
        nonlocal attempted, failed
        attempted += 1
        if errs:
            failed += 1
            errors.extend(f"{what}: {e}" for e in errs)

    run.launch_jvm()
    setups, want = [], None
    for k in range(SETUPS):
        if k:
            run.spark.stop()
        t0 = time.perf_counter()
        run.start_spark()
        wl.open(run)
        sig, errs = wl.rep(run, -1 - k)
        setups.append(time.perf_counter() - t0)
        judge(errs, f"warm-up {k}")
        if want is None:
            want = sig
        elif sig != want:
            judge(["output differs from the first warm-up"], f"warm-up {k}")
        run.say(f"setup {k}: {setups[-1]:.2f}s")
    for name, errs in wl.check(run):
        judge(errs, name)

    # untimed reps until every Python worker of this session has run
    # every task type once and the JIT has settled
    end = time.perf_counter() + WARM_S
    while time.perf_counter() < end:
        wl.probe(run)
        tr.enabled = False
        sig, errs = wl.rep(run, -10)
        tr.enabled = run.trace
        judge(errs + ([] if sig == want else ["output differs from the warm-up"]), "warm rep")

    reps, traced, plain, probes = [], [], [], []
    end = time.perf_counter() + seconds
    i = 0
    while time.perf_counter() < end or len(reps) < 2:
        t0 = time.perf_counter()
        wl.probe(run)
        probes.append(time.perf_counter() - t0)
        on = run.trace and i % 2 == 0  # traced runs alternate spans on/off
        tr.enabled, tr.rep = on, i
        t0 = time.perf_counter()
        with tr.span("rep"):
            sig, errs = wl.rep(run, i)
        dt = time.perf_counter() - t0
        tr.enabled = run.trace
        reps.append(dt)
        (traced if on else plain).append(dt)
        judge(errs + ([] if sig == want else ["output differs from the warm-up"]), f"rep {i}")
        i += 1

    out = {"setups": setups, "reps": reps, "probes": probes, "stage_s": stage_s,
           "attempted": attempted, "failed": failed, "errors": errors}
    if run.trace:
        tr.rep = None
        with tr.span("layers"):
            out["layers"] = wl.layers(run, judge)
        out["traced"], out["plain"] = traced, plain
        out["job_counts"] = [H.job_counts(run.spark.sparkContext, tr.groups_under(s))
                             for s in tr.named("rep")]
        out["attempted"], out["failed"] = attempted, failed
    return out


def layer_metrics(run: Run, wl, m: dict, spans_path: str) -> dict:
    import harness as H

    tr = run.tracer
    v = dict.fromkeys((n for n, _ in PER_LAYER), 0.0)
    v.update(m["layers"])
    for name in SPAN_TIMED:
        spans = tr.named(name[:-2])
        if spans:
            v[name] = H.median([tr.duration(s) for s in spans])
    v["index.build_s"] = H.median(run.notes.get("index.build_s", []))
    jobs = m["job_counts"]
    v["spark.jobs"] = H.median([c[0] for c in jobs])
    v["spark.stages"] = H.median([c[1] for c in jobs])
    v["spark.tasks"] = H.median([c[2] for c in jobs])
    v["probe.s"] = H.median(m["probes"])
    v["synth.stage_s"] = m["stage_s"]
    v["fail_frac"] = m["failed"] / m["attempted"]
    v["trace.rep_s"] = H.median(m["traced"])
    v["trace.overhead_frac"] = v["trace.rep_s"] / H.median(m["plain"]) - 1.0

    # event-log attribution: stage task metrics per span
    ev_dir = os.path.join(run.run_dir, "events")
    logs = [os.path.join(ev_dir, f) for f in os.listdir(ev_dir)] if os.path.isdir(ev_dir) else []
    if logs:
        by_group = H.event_log_by_group(max(logs, key=os.path.getmtime))
        H.attribute(tr, by_group)
        reps = [s for s in tr.named("rep") if "tasks" in s]
        n = max(1, len(reps))
        v["shuffle.bytes"] = sum(H.span_total(tr, s, "shuffle_write_bytes") for s in reps) / n
        v["shuffle.spill_bytes"] = sum(H.span_total(tr, s, "spill_bytes") for s in reps) / n
        lay = tr.named("skew.layout")
        if lay:
            v["skew.shuffle_bytes"] = H.median(
                [H.span_total(tr, s, "shuffle_write_bytes") for s in lay])
        q = tr.named("layout.query")
        if q:
            v["layout.scan_bytes"] = H.median([H.span_total(tr, s, "input_bytes") for s in q])
    tr.dump(spans_path)
    return v


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="document count multiplier (the benchmark's own test uses < 1; "
                         "the raster tile count is fixed)")
    args = ap.parse_args(argv)

    run_dir = os.path.join(HERE, ".out",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    out_fd, err_fd = os.dup(1), os.dup(2)

    def say(msg: str) -> None:
        os.write(err_fd, f"[perfbench] {msg}\n".encode())

    # Spark, py4j and Python workers inherit fds 1 and 2: route both to a
    # log so the result line is the only thing on stdout
    log = open(os.path.join(run_dir, "spark.log"), "ab")
    sys.stdout.flush()
    sys.stderr.flush()
    os.dup2(log.fileno(), 1)
    os.dup2(log.fileno(), 2)
    isolate(run_dir)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import harness as H
        import workloads
    except ImportError:
        say(f"cannot import the engine from {ROOT}:\n{traceback.format_exc()}")
        return 2
    if args.workload not in workloads.WORKLOADS:
        say(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}")
        return 2

    wl = workloads.WORKLOADS[args.workload](args.scale)
    run = Run(args, run_dir, H.Tracer(bool(args.trace)), say)
    try:
        with H.RssSampler() as rss:
            m = measure(run, wl, args.seconds)
        stop_everything(run)
        if args.trace:
            metrics = layer_metrics(run, wl, m, os.path.join(run_dir, "spans.jsonl"))
    except Exception:
        say("run failed:\n" + traceback.format_exc())
        try:
            stop_everything(run)
        except Exception:
            say("stop failed:\n" + traceback.format_exc())
        return 1

    if args.trace:
        units = dict(PER_LAYER)
    else:
        # each rep over the drift probe run just before it, scaled back to
        # seconds by the probe's time on the baseline box: host speed
        # drifts by tens of percent between runs on a shared machine
        rep_s = wl.probe_ref_s * H.median([r / p for r, p in zip(m["reps"], m["probes"])])
        metrics = {
            "items_per_s": wl.items / rep_s,
            "rep_s": rep_s,
            "setup_s": H.median(m["setups"]),
            "peak_rss_mb": rss.peak_kb / 1024.0,
        }
        units = dict(END_TO_END)
    result = {
        "correct": m["failed"] == 0,
        "attempted": m["attempted"],
        "failed": m["failed"],
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    import numpy
    import pyarrow
    import pyspark

    detail = dict(result, run={
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "cores": run.cores,
        "master": f"local[{run.cores}]", "items": wl.items, "item_unit": wl.unit,
        "git_sha": git_sha(), "python": platform.python_version(),
        "spark": pyspark.__version__, "arrow": pyarrow.__version__,
        "numpy": numpy.__version__, "setups": m["setups"], "reps": m["reps"],
        "rep_s_raw": H.median(m["reps"]), "probe_ref_s": wl.probe_ref_s,
        "rep_p": H.high_percentile(m["reps"]), "probes": m["probes"],
        "synth_stage_s": m["stage_s"], "errors": m["errors"],
    })
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(detail, f, indent=1)
    shutil.rmtree(run.data_dir, ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    for e in m["errors"]:
        say(f"check failed: {e}")
    say(f"{args.workload}: {len(m['reps'])} reps, result in {run_dir}")
    os.write(out_fd, (json.dumps(result) + "\n").encode())
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
