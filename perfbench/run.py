"""COA extraction benchmark: four workloads on local[nproc], oracle-checked.

Run from the repository root:

    python3 perfbench/run.py --workload thin_text --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1   # every workload in turn

One run: generate (or reuse) the seeded corpus and its oracle, start Spark,
register the inputs (set-up), run one cold pass, then timed warm passes for
``--seconds`` (at least three), check the outputs against the oracle, and set
up again six times in the same JVM.  The last stdout line is one JSON
object: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``.  The end-to-end times are CPU seconds of the benchmark process
and everything it starts (JVM, pyspark daemon, Python workers): ``setup_s``
is the median over the seven set-ups, ``cpu_s`` the median over the timed
passes.  The ``perfbench`` summary line before it also gives the wall-clock
``wall_s``, ``docs_per_s``, ``setup_wall_s`` and ``cold_s``, and
``failed_frac``.  A traced run alternates plain and traced warm passes;
their median wall difference is ``trace.overhead_s``.
Scratch files live in ``.perfbench-work/`` at the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import host
from coretrace import LAYERS, StageTimer

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench-work")

END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    **{f"core.{c}_s": "s" for c in LAYERS},
    "core.total_s": "s",
    "core.coverage": "ratio",
    "core.docs": "count",
    "core.chars": "count",
    "functions.python_total_s": "s",
    "functions.python_boot_s": "s",
    "functions.python_init_s": "s",
    "functions.bytes_to_python": "bytes",
    "functions.bytes_from_python": "bytes",
    "functions.udf_rows": "count",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.task_skew": "ratio",
    "operators.exploded_spans": "count",
    "plans.analysis_s": "s",
    "plans.optimization_s": "s",
    "plans.planning_s": "s",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.executor_run_s": "s",
    "plans.executor_cpu_s": "s",
    "plans.gc_s": "s",
    "sources.read_s": "s",
    "sources.append_s": "s",
    "sources.bytes_written": "bytes",
    "sources.files_written": "count",
    "operators.checkpoint.docs_skipped": "count",
    "operators.checkpoint.docs_redone": "count",
    "operators.checkpoint.metrics_rows": "count",
    "operators.checkpoint.extracted_per_missing": "ratio",
    "jobs.extract_run_s": "s",
    "jobs.curate_run_s": "s",
    "jobs.count_jobs": "count",
    "trace.overhead_s": "s",
}
SETUPS = 7  # set-ups per run; setup_s is their median
MIN_WARM = 3  # timed warm passes per run at least, whatever --seconds says


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _prepare_env(run_dir: str) -> None:
    """Keep Spark's and Python's scratch inside the run dir, and let the
    Python workers import the package from any cwd."""
    for sub in ("spark-local", "eventlog", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    paths = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # the launcher JVM that spark-submit runs first would write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None


def _session(run_dir: str, cpus: int, trace: bool):
    from coa_ocr_simple_spark.jobs.extract import make_session

    conf = {
        # a fixed, pre-touched heap: the JVM's share of peak_rss_mb is then
        # the heap plus what grows outside it, not wherever GC happened to
        # let the heap peak this run
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": f"-Xms1g -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={run_dir}/tmp",
        "spark.local.dir": f"{run_dir}/spark-local",
        "spark.sql.warehouse.dir": f"{run_dir}/warehouse",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # only a traced run reads the event log; writing it costs CPU
        "spark.eventLog.enabled": str(trace).lower(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": f"file://{run_dir}/eventlog",
    }
    # nproc shuffle partitions, bench.py's default for the SQL queries
    spark = make_session(
        "perfbench", f"local[{cpus}]", cpus, [f"{k}={v}" for k, v in conf.items()]
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM it launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _phases(df) -> dict:
    """Catalyst phase times of a fresh plan, forced through physical planning."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[f"plans.{kv._1()}_s"] = kv._2().durationMs() / 1e3
    return out


def _clock() -> tuple[float, float]:
    """Wall and CPU seconds now.  CPU is that of this process and everything
    it started: the JVM, the pyspark daemon and its Python workers."""
    return time.perf_counter(), host.tree_cpu_s(os.getpid())


def _since(start: tuple[float, float]) -> tuple[float, float]:
    wall, cpu = _clock()
    return wall - start[0], cpu - start[1]


def measure(name: str, seed: int, seconds: float, trace: bool) -> dict:
    from eventlog import PASS_PROPERTY, EventLog
    from workloads import WORKLOADS

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    _prepare_env(run_dir)
    cpus = host.nproc()
    wl = WORKLOADS[name](run_dir, os.path.join(WORK, "cache"), seed)
    timeline: dict[str, float] = {}  # seconds since start, at each phase end

    def mark(phase: str) -> None:
        timeline[phase] = time.perf_counter() - T0

    mark("start")
    wl.prepare(trace)
    mark("prepare")

    from coa_ocr_simple_spark.sources.tables import TableIO

    source_calls = (("sources.read_s", TableIO, "read"), ("sources.append_s", TableIO, "append"))
    setups: list[tuple[float, float]] = []  # (wall, CPU) seconds of each set-up
    passes: list[tuple[float, float]] = []  # (wall, CPU) of each untraced timed pass
    traced_walls: list[float] = []
    layer_samples: list[dict] = []

    def set_up():
        start = _clock()
        spark = _session(run_dir, cpus, trace)
        wl.register(spark)
        setups.append(_since(start))
        return spark

    try:
        spark = set_up()
        sc = spark.sparkContext
        app_id = sc.applicationId
        wl.after_setup(spark)
        mark("setup")

        def one_pass(label: str, traced: bool) -> tuple[float, float]:
            wl.reset(spark)
            sc.setLocalProperty(PASS_PROPERTY, label)
            timer = StageTimer()
            undo = timer.install(source_calls if traced else ())
            try:
                start = _clock()
                wl.run_pass(spark)
                took = _since(start)
            finally:
                undo()
            sc.setLocalProperty(PASS_PROPERTY, None)
            if traced:
                written = wl.written_files()
                layer_samples.append(
                    {
                        **{layer: timer.self_s[layer] for layer, _, _ in source_calls},
                        **wl.pass_layer,
                        "sources.files_written": len(written),
                        "sources.bytes_written": sum(written.values()),
                    }
                )
            return took

        cold_s = one_pass("cold", False)[0]
        mark("cold")
        start = time.perf_counter()
        i = 0
        min_warm = MIN_WARM + 1 if trace else MIN_WARM
        while i < min_warm or time.perf_counter() - start < seconds:
            traced = trace and i % 2 == 1
            took = one_pass(f"warm-{i}", traced)
            if traced:
                traced_walls.append(took[0])
            else:
                passes.append(took)
            i += 1
        mark("warm")
        sc.setLocalProperty(PASS_PROPERTY, "verify")
        attempted, failed = wl.verify(spark)
        sc.setLocalProperty(PASS_PROPERTY, None)
        peak_rss_mb = host.tree_peak_rss_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
        phases = _phases(wl.main_plan(spark)) if trace else {}
        spark.stop()
        mark("verify")
        if not trace:
            for _ in range(SETUPS - 1):
                set_up().stop()
        mark("setups")
    finally:
        _stop_jvm()
    mark("stop")

    walls = [w for w, _ in passes]
    wall_s = statistics.median(walls)
    record = {
        "workload": name,
        "seed": seed,
        "trace": int(trace),
        "attempted": attempted,
        "failed": failed,
        "failed_frac": failed / attempted,
        "docs_per_pass": wl.docs_per_pass,
        "timeline_s": timeline,
        "setup_samples_s": [w for w, _ in setups],
        "setup_cpu_samples_s": [c for _, c in setups],
        "cold_s": cold_s,
        "wall_s": wall_s,
        "docs_per_s": wl.docs_per_pass / wall_s,
        "warm_samples_s": walls,
        "cpu_samples_s": [c for _, c in passes],
        "traced_samples_s": traced_walls,
        "host": host.facts(
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            seed=seed,
            seconds=seconds,
        ),
    }
    if trace:
        record["metrics"] = _layer_metrics(
            wl, EventLog.from_file(os.path.join(run_dir, "eventlog", app_id)),
            phases, layer_samples, walls, traced_walls,
        )
        record["units"] = PER_LAYER
        record["notes"] = wl.layer_notes()
    else:
        record["metrics"] = {
            "setup_s": statistics.median(record["setup_cpu_samples_s"]),
            "cpu_s": statistics.median(record["cpu_samples_s"]),
            "peak_rss_mb": peak_rss_mb,
        }
        record["units"] = END_TO_END
    return record


def _mean(samples: list[dict], key: str) -> float:
    return statistics.fmean(s[key] for s in samples) if samples else 0.0


def _layer_metrics(wl, log, phases, layer_samples, walls, traced_walls) -> dict:
    out = {m: 0.0 for m in PER_LAYER}
    out.update(wl.core_metrics)
    warm = [log.pass_metrics(lab) for lab in log.labels() if lab.startswith("warm-")]
    for key in warm[0] if warm else ():
        out[key] = _mean(warm, key)
    cold = log.pass_metrics("cold")
    # worker start-up happens once per session: it shows on the cold pass
    out["functions.python_boot_s"] = cold["functions.python_boot_s"]
    out["functions.python_init_s"] = cold["functions.python_init_s"]
    out.update(phases)
    for key in layer_samples[0] if layer_samples else ():
        out[key] = _mean(layer_samples, key)
    out.update(getattr(wl, "checkpoint_metrics", {}))
    if wl.runs_job:
        out["jobs.count_jobs"] = out["plans.jobs"]
    out["trace.overhead_s"] = statistics.median(traced_walls) - statistics.median(walls)
    return {k: out[k] for k in PER_LAYER}


def _result_line(record: dict) -> str:
    return json.dumps(
        {
            "correct": record["failed"] == 0,
            "attempted": record["attempted"],
            "failed": record["failed"],
            "metrics": {
                k: {"value": v, "unit": record["units"][k]} for k, v in record["metrics"].items()
            },
        }
    )


def _summary(record: dict) -> str:
    figures = " ".join(
        f"{k}={v:.6g} {record['units'][k]}" for k, v in record["metrics"].items()
    )
    # wall-clock figures: summary line only, not bounded metrics.  On a
    # shared 4-core VM the hypervisor ran other guests on our cores for up to
    # 15% of a run (steal); over ten seeds the warm-pass wall spread 0.20-0.35
    # (quartile distance over median) where CPU time spread 0.11
    figures += (
        f" wall_s={record['wall_s']:.6g} s docs_per_s={record['docs_per_s']:.6g} docs/s"
        f" setup_wall_s={statistics.median(record['setup_samples_s']):.6g} s"
        f" cold_s={record['cold_s']:.6g} s"
    )
    return (
        f"perfbench {record['workload']} seed={record['seed']} trace={record['trace']} "
        f"failed_frac={record['failed_frac']:.6g} ({record['failed']}/{record['attempted']}) "
        f"{figures}"
    )


def run_all(args) -> None:
    """Every workload in its own process; prints one summary line each."""
    from workloads import WORKLOADS

    results = {}
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, cwd=REPO,
        )
        lines = proc.stdout.strip().splitlines()
        print("\n".join(line for line in lines[:-1] if line.startswith("perfbench ")))
        if proc.returncode != 0 or not lines:
            _fail(f"workload {name} failed with exit code {proc.returncode}")
        results[name] = json.loads(lines[-1])
    print(json.dumps(results))


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, help="thin_text, media_mix, resume_append, curate_funnel or all")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, "coa_ocr_simple_spark")):
        _fail(f"the program is missing: no coa_ocr_simple_spark/ under {REPO}")
    sys.path.insert(0, REPO)
    from workloads import WORKLOADS

    if args.workload == "all":
        run_all(args)
        return
    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {', '.join(WORKLOADS)} or all")

    record = measure(args.workload, args.seed, args.seconds, bool(args.trace))
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    path = os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1)
    print("perfbench host " + json.dumps(record["host"], sort_keys=True))
    for key, why in record.get("notes", {}).items():
        print(f"perfbench note {key}: {why}")
    print(_summary(record))
    print(_result_line(record))


if __name__ == "__main__":
    main()
