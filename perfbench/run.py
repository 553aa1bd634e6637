"""Benchmark runner: one workload, one closed loop with one client.

    python3 perfbench/run.py --workload stream_tail --seed 1 --seconds 10 --trace 0

Run from the repository root. Jobs run one at a time on
``local[nproc]`` in this process, on a session from the program's own
factory ``bench.build_spark``. Every job's output is checked against the
reference cached for the seed.

``--trace 0`` prints the end-to-end metrics (setup_s, job_p50_s,
rows_per_s, peak_pss_mb). ``--trace 1`` is a separate run that prints
the per-layer metrics: after a cold set-up, half of ``--seconds``
untraced on a restarted session, then a session with the Spark event log
on and spans recorded for the other half, then one job at ``local[1]``
for the scaling efficiency. The last line of
stdout is one JSON object: correct, attempted, failed, metrics. See
perfbench/README.md for every metric's definition.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
INPUTS = os.path.join(WORK, "inputs")
SETUPS = 2  # set-ups per run; setup_s is their median
# Other guests on a shared host take CPU time from this one ("steal"); a
# job during which more than STEAL_LIMIT of it was stolen measures them,
# not the program, and is left out of the medians when at least
# MIN_SAMPLES cleaner jobs exist.
STEAL_LIMIT = 0.05
MIN_SAMPLES = 2


def _clean(jobs: list[dict]) -> list[dict]:
    return [j for j in jobs if j["steal"] <= STEAL_LIMIT]


def samples(jobs: list[dict]) -> list[dict]:
    """The jobs the medians are taken over: those with little steal if
    there are MIN_SAMPLES of them, else the MIN_SAMPLES least stolen."""
    clean = _clean(jobs)
    if len(clean) >= MIN_SAMPLES:
        return clean
    return sorted(jobs, key=lambda j: j["steal"])[:MIN_SAMPLES]


def _fresh_work_dirs() -> None:
    for sub in ("tmp", "spark-local", "scratch", "eventlog"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
        os.makedirs(os.path.join(WORK, sub))


def host_env() -> int:
    """Point every temp/scratch location of Spark and Python inside the
    work dir, size the driver heap from MemTotal, and return nproc."""
    with open("/proc/meminfo") as fh:
        mem_kib = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal"))
    # a sixteenth of the host, 1-2 GiB: build_spark's 16g default exceeds
    # small hosts, and the machine is shared
    heap_gib = min(2, max(1, mem_kib // (16 * 2**20)))
    tmp = os.path.join(WORK, "tmp")
    os.environ.update(
        SPARK_GRAFT_MEM=f"{heap_gib}g",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        PYTHONPATH=os.pathsep.join(
            p for p in (REPO, os.environ.get("PYTHONPATH")) if p
        ),
        # every JVM, spark-submit's launcher too: no hsperfdata file in /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
                # -Xms = the heap limit: a heap the collector never
                # resizes keeps peak memory from following its choices
                f"--driver-java-options '-Xms{heap_gib}g -Dderby.system.home={tmp}'",
                "pyspark-shell",
            ]
        ),
    )
    return len(os.sched_getaffinity(0))


EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    # the default codec is zstd, which Python's stdlib cannot read
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
    "spark.eventLog.logBlockUpdates.enabled": "true",
    "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
}


class Bench:
    """One run: the session, the workload, the inputs and the tallies."""

    def __init__(self, workload, staged, cores: int):
        import bench as program

        self._program = program
        self.workload = workload
        self.staged = staged
        self.cores = cores
        self.attempted = 0
        self.failed = 0
        self._stopped = []  # keeps stopped sessions alive: see restart()
        self.spark = self._session(cores)

    def _session(self, cores: int):
        spark = self._program.build_spark(cores)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def restart(self, cores: int | None = None, conf: dict | None = None) -> None:
        """Stop the session and build a fresh one in the same JVM.
        ``conf`` entries become JVM system properties, which every new
        SparkConf loads; ``None`` values clear them. The stopped session
        object is kept referenced: webgen.lang_dict caches its frame by
        ``id(spark)``, and a recycled id would hand the new session a
        frame of the stopped one."""
        jvm = self.spark._jvm
        self._stopped.append(self.spark)
        self.spark.stop()
        for k, v in (conf or {}).items():
            if v is None:
                jvm.java.lang.System.clearProperty(k)
            else:
                jvm.java.lang.System.setProperty(k, v)
        self.spark = self._session(cores or self.cores)

    def ctx(self, tracer):
        from workloads import Ctx

        return Ctx(self.spark, self.staged.path, os.path.join(WORK, "scratch"), tracer)

    def prepare(self, ctx) -> None:
        """Set-up after a session start: enrichment dims (plugin-init
        analogue), then one untimed warm-up job, checked like any other."""
        from fluent_bit_spark.pipeline import load_enrich_dims
        from fluent_bit_spark.webgen import geo_dict, lang_dict

        with ctx.tracer.span("load_enrich_dims", "setup"):
            ctx.dims = load_enrich_dims(geo_dict(ctx.spark), lang_dict(ctx.spark))
        self.run_job(ctx)

    def run_job(self, ctx) -> dict:
        """One job: clearCache (CacheManager reuses persisted plans across
        fresh frames), the timed job, then the untimed output check.
        Returns its record: wall and process-tree CPU seconds, the share
        of host CPU time stolen meanwhile, and the output (None if the
        job raised)."""
        from probes import host_steal_ticks, process_tree, tree_cpu_seconds

        ctx.spark.catalog.clearCache()
        self.attempted += 1
        ctx.job_no += 1
        cpu = tree_cpu_seconds(process_tree(os.getpid()))
        steal, total = host_steal_ticks()
        t = time.perf_counter()
        try:
            out = self.workload.job(ctx)
        except Exception:  # a failed job counts against error_rate
            traceback.print_exc()
            out = None
        wall = time.perf_counter() - t
        steal1, total1 = host_steal_ticks()
        job = {
            "wall": wall,
            "cpu": tree_cpu_seconds(process_tree(os.getpid())) - cpu,
            "steal": (steal1 - steal) / max(1, total1 - total),
            "out": out,
        }
        errors = ["raised"] if out is None else self.workload.check(out, self.staged)
        if errors:
            print(f"job {ctx.job_no} failed: {errors}", file=sys.stderr)
            self.failed += 1
        return job

    def loop(self, ctx, seconds: float) -> list[dict]:
        """Closed loop: the next job starts when the previous one ends.
        Runs for ``seconds``, and on until MIN_SAMPLES jobs ran with at
        most STEAL_LIMIT of the host's CPU time stolen, or for twice
        ``seconds`` at most."""
        jobs = []
        start = time.perf_counter()
        while True:
            jobs.append(self.run_job(ctx))
            elapsed = time.perf_counter() - start
            if elapsed >= seconds and (
                len(_clean(jobs)) >= MIN_SAMPLES or elapsed >= 2 * seconds
            ):
                return jobs

    def close(self) -> None:
        stop_spark(self.spark)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every process this
    one started: Python workers outlive the JVM by a moment, and as a
    child subreaper this process inherits them when it exits."""
    from pyspark import SparkContext

    import probes

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    probes.reap_children(timeout=30)


def stage_inputs(kind: str, seed: int):
    """Load the cached input, staging every input of the seed first, in
    a process of its own, so that this process's set-up always starts
    cold. Returns the staged input and the seconds staging took."""
    import inputs

    t = time.time()
    staged = inputs.load(INPUTS, kind, seed)
    if staged is None:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "stage.py"), "--seed", str(seed)],
            check=True,
            timeout=300,
        )
        staged = inputs.load(INPUTS, kind, seed)
    return staged, time.time() - t


def _progress(job: dict) -> list[dict]:
    """The micro-batch progress records of a stream_tail job, else []."""
    return (job["out"] or {}).get("progress", [])


def end_to_end(b: Bench, seconds: float, t_proc: float, t_stage: float):
    from probes import NullTracer, TreeSampler

    tracer = NullTracer()
    ctx = b.ctx(tracer)
    b.prepare(ctx)
    setups = [time.time() - t_proc - t_stage]
    for _ in range(SETUPS - 1):
        t = time.time()
        b.restart()
        ctx = b.ctx(tracer)
        b.prepare(ctx)
        setups.append(time.time() - t)
    sampler = TreeSampler()
    try:
        with sampler.running():
            jobs = b.loop(ctx, seconds)
    finally:
        sampler.close()
    sample = samples(jobs)
    p50 = statistics.median(j["wall"] for j in sample)
    detail = {
        "setups_s": setups,
        "stage_s": t_stage,
        "job_samples": len(sample),
        "steal_fallback": len(_clean(jobs)) < MIN_SAMPLES,
        "job_times_s": [j["wall"] for j in jobs],
        "job_cpu_s": [j["cpu"] for j in jobs],
        "job_steal": [j["steal"] for j in jobs],
        "error_rate": b.failed / b.attempted,
    }
    triggers = [p["triggerExecution"] for j in sample for p in _progress(j)]
    if triggers:
        detail["trigger_p50_s"] = statistics.median(triggers) / 1000
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "job_p50_s": (p50, "s"),
        "rows_per_s": (b.staged.rows / p50, "1/s"),
        "peak_pss_mb": (sampler.peak / 2**20, "MB"),
    }
    return metrics, detail


# per-layer metric -> unit, in report order (BENCHMARK.json per_layer)
LAYER_UNITS = {
    "spark.jobs": "count", "task.count": "count", "task.run_ms": "ms",
    "task.cpu_ms": "ms", "task.deser_ms": "ms", "jvm.gc_ms": "ms",
    "cpu.util": "ratio",
    "scan.ms": "ms", "scan.bytes": "bytes", "scan.files": "count",
    "scan.passes": "count",
    "py.tasks": "count", "py.boot_ms": "ms", "py.init_ms": "ms",
    "py.run_ms": "ms", "py.bytes_in": "bytes", "py.bytes_out": "bytes",
    "py.init_share": "ratio",
    "plan.ms": "ms", "enrich.dims_ms": "ms",
    "sink.write_ms": "ms", "sink.commit_ms": "ms", "sink.bytes": "bytes",
    "sink.files": "count", "sink.rows": "count", "cache.mb": "MB",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_ms": "ms", "agg.ms": "ms", "spill.bytes": "bytes",
    "task.straggler": "ratio",
    "stream.triggers": "count", "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms", "stream.get_batch_ms": "ms",
    "stream.planning_ms": "ms", "stream.wal_commit_ms": "ms",
    "stream.commit_ms": "ms",
    "scale.eff_1toN": "ratio", "trace.overhead_ms": "ms",
}
# stream.* metric -> StreamingQueryProgress.durationMs key
STREAM_KEYS = {
    "stream.trigger_ms": "triggerExecution",
    "stream.add_batch_ms": "addBatch",
    "stream.get_batch_ms": "getBatch",
    "stream.planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_ms": "commitOffsets",
}


def _median(values) -> float:
    return statistics.median(values) if values else 0.0


def per_layer(b: Bench, seconds: float):
    import eventlog
    from probes import NullTracer, Tracer, process_tree, tree_cpu_seconds

    # each phase runs after a session restart and its set-up, so the
    # untraced and traced halves differ only in tracing
    b.prepare(b.ctx(NullTracer()))
    b.restart()
    ctx = b.ctx(NullTracer())
    b.prepare(ctx)
    untraced = samples(b.loop(ctx, seconds / 2))

    b.restart(conf=EVENT_LOG_CONF)
    app_id = b.spark.sparkContext.applicationId
    tracer = Tracer(b.spark.sparkContext)
    ctx = b.ctx(tracer)
    b.prepare(ctx)
    first_timed = len(tracer.spans)
    cpu0, wall0 = tree_cpu_seconds(process_tree(os.getpid())), time.time()
    traced = b.loop(ctx, seconds / 2)
    cpu_util = (tree_cpu_seconds(process_tree(os.getpid())) - cpu0) / (
        (time.time() - wall0) * b.cores
    )

    # the same job at local[1], untraced: T1 / (N * T_N)
    b.restart(cores=1, conf=dict.fromkeys(EVENT_LOG_CONF))
    ctx1 = b.ctx(NullTracer())
    b.prepare(ctx1)
    t1 = b.run_job(ctx1)["wall"]

    with open(os.path.join(WORK, "spans.json"), "w") as fh:
        json.dump(tracer.spans, fh)
    log = os.path.join(WORK, "eventlog", app_id)
    rolled = eventlog.rollup(eventlog.read_events([log]), group=tracer.roots())
    jobs = [
        (s, rolled.get(s["id"], {}))
        for s in tracer.spans[first_timed:]
        if s["parent"] is None
    ]
    layers = {k: _median([r.get(k, 0.0) for _, r in jobs]) for k in eventlog.LAYER_KEYS}
    layers["plan.ms"] = _median(
        [r["first_job_ms"] - 1000 * s["start"] for s, r in jobs if "first_job_ms" in r]
    )
    layers["py.init_share"] = _median(
        [r["py.init_ms"] / r["py.run_ms"] for _, r in jobs if r.get("py.run_ms")]
    )
    layers["enrich.dims_ms"] = _median(
        [1000 * (s["end"] - s["start"]) for s in tracer.spans if s["name"] == "load_enrich_dims"]
    )
    triggers = [p for j in traced for p in _progress(j)]
    for name, key in STREAM_KEYS.items():
        layers[name] = _median([p.get(key, 0) for p in triggers])
    layers["stream.triggers"] = _median([len(_progress(j)) for j in traced if _progress(j)])
    layers["cpu.util"] = cpu_util
    untraced_p50 = statistics.median(j["wall"] for j in untraced)
    traced_p50 = statistics.median(j["wall"] for j in samples(traced))
    layers["scale.eff_1toN"] = t1 / (b.cores * untraced_p50)
    layers["trace.overhead_ms"] = 1000 * (traced_p50 - untraced_p50)
    metrics = {k: (float(layers[k]), unit) for k, unit in LAYER_UNITS.items()}
    detail = {
        "untraced_job_times_s": [j["wall"] for j in untraced],
        "traced_job_times_s": [j["wall"] for j in traced],
        "local1_job_s": t1,
    }
    return metrics, detail


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    import probes

    t_proc = probes.process_start_time()
    probes.become_subreaper()
    _fresh_work_dirs()
    cores = host_env()
    sys.path.insert(0, REPO)
    try:
        import bench  # noqa: F401  (the program's session factory)
        import fluent_bit_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {REPO}: {exc}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    workload = WORKLOADS[args.workload]
    staged, t_stage = stage_inputs(workload.input_kind, args.seed)
    b = Bench(workload, staged, cores)
    try:
        if args.trace:
            metrics, detail = per_layer(b, args.seconds)
        else:
            metrics, detail = end_to_end(b, args.seconds, t_proc, t_stage)
    finally:
        b.close()
    detail.update(workload=args.workload, seed=args.seed, cores=cores, rows=b.staged.rows)
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": b.failed == 0,
                "attempted": b.attempted,
                "failed": b.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
