"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload cli_small_files --seed 1 --seconds 25 --trace 0

A run sets the program up several times (Spark session, inputs generated
from ``--seed``, warm-up) and reports the median set-up time; checks the
program's outputs once outside the timed passes; then runs the
workload's closed loop for a fixed number of timed passes, ``--seconds``
over the nominal pass time and at least three. Spark runs as
``local[<cpus / 2>]`` inside this one process; everything the program
writes (warehouse, Spark local dirs, temp files, checkpoints) lives in a
scratch directory under ``.perfbench_work/`` in the checkout, removed at
exit.

With ``--trace 0`` the last line of stdout is the result with every
end-to-end metric; with ``--trace 1`` it carries every per-layer metric
instead, taken from traced passes that alternate with untraced ones so
the tracing overhead can be reported. The line above it is the full run
record, stamped with the configuration it was measured on; the record
is also appended to ``.perfbench_work/records.jsonl`` (see
``compare.py``). See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
SETUPS = 5
MIN_PASSES = 3
PASS_S = 5.0  # nominal pass time of both workloads, s

END_TO_END = {"setup_s": "s", "pass_s": "s"}

# modules that define the members ``member_queries`` runs
MEMBER_MODULES = [
    "relational", "streaming", "llm.dedup", "llm.curate", "llm.textstats",
    "llm.similarity", "llm.sampling", "llm.multimodal", "llm.classify", "llm.tokenize",
]
_MEMBER_METRICS = [
    "construct_s", "construct_jobs", "execute_s", "jobs", "tasks",
    "executor_busy_s", "shuffle_bytes", "input_bytes",
]


def per_layer_names() -> list[str]:
    names = [
        "scanner.discover_s", "scanner.validate_s", "scanner.files_classified",
        "ingest.read_s", "ingest.read_calls", "ingest.salvage_calls", "ingest.salvage_ratio",
        "ingest.encoding_sniff_s", "ingest.self_s", "ingest.jobs", "ingest.input_bytes",
        "ingest.tasks",
        "normalize.construct_s", "normalize.calls",
        "sink.create_s", "sink.insert_s", "sink.jobs", "sink.output_bytes", "sink.files_written",
        "query.construct_s", "query.execute_s", "query.jobs", "query.input_bytes",
        "session.start_s",
        "cachemgr.calls", "cachemgr.builds", "cachemgr.hit_ratio", "cachemgr.build_s",
        "spark.spill_bytes", "spark.failed_tasks",
        "trace.overhead_s",
    ]
    for m in MEMBER_MODULES:
        names += [f"{m}.{k}" for k in _MEMBER_METRICS]
    return names


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "B"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def layer_metrics(pt, sink_files: int) -> dict[str, float]:
    """Per-layer numbers of one traced pass (see README.md for the map
    from each to the end-to-end metric it should move)."""
    m: dict[str, float] = {
        "scanner.discover_s": pt.time("scanner.discover"),
        "scanner.validate_s": pt.time("scanner.validate"),
        "scanner.files_classified": pt.attr_sum("scanner.discover", "files"),
        "ingest.read_s": pt.time("ingest.read"),
        "ingest.read_calls": pt.count("ingest.read"),
        "ingest.salvage_calls": pt.count("ingest.salvage"),
        "ingest.encoding_sniff_s": pt.time("ingest.encoding_sniff"),
        "ingest.self_s": pt.self_time("ingest.directory"),
        "ingest.jobs": len(pt.jobs_under("ingest.directory")),
        "ingest.input_bytes": pt.job_sum("input_bytes", "ingest.directory"),
        "ingest.tasks": pt.job_sum("tasks", "ingest.directory"),
        "normalize.construct_s": pt.time("normalize.construct"),
        "normalize.calls": pt.count("normalize.construct"),
        "sink.create_s": pt.time("sink.create"),
        "sink.insert_s": pt.time("sink.insert"),
        "sink.jobs": len(pt.jobs_under("sink.create", "sink.insert")),
        "sink.output_bytes": pt.job_sum("output_bytes", "sink.create", "sink.insert"),
        "sink.files_written": sink_files,
        "query.construct_s": pt.time("query.construct"),
        "query.execute_s": pt.time("query.execute"),
        "query.jobs": len(pt.jobs_under("query.construct", "query.execute")),
        "query.input_bytes": pt.job_sum("input_bytes", "query.construct", "query.execute"),
        "spark.spill_bytes": pt.job_sum("spill_bytes"),
        "spark.failed_tasks": pt.job_sum("failed_tasks"),
    }
    reads = m["ingest.read_calls"]
    m["ingest.salvage_ratio"] = m["ingest.salvage_calls"] / reads if reads else 0.0
    calls = pt.count("cachemgr.value") + pt.count("cachemgr.persist")
    m["cachemgr.calls"] = calls
    m["cachemgr.builds"] = pt.count("cachemgr.build")
    m["cachemgr.hit_ratio"] = 1 - m["cachemgr.builds"] / calls if calls else 0.0
    m["cachemgr.build_s"] = pt.time("cachemgr.build")
    for mod in MEMBER_MODULES:
        con, exe = f"{mod}.construct", f"{mod}.execute"
        m[f"{mod}.construct_s"] = pt.time(con)
        m[f"{mod}.construct_jobs"] = len(pt.jobs_under(con))
        m[f"{mod}.execute_s"] = pt.time(exe)
        m[f"{mod}.jobs"] = len(pt.jobs_under(con, exe))
        m[f"{mod}.tasks"] = pt.job_sum("tasks", con, exe)
        m[f"{mod}.executor_busy_s"] = pt.job_sum("busy_s", con, exe)
        m[f"{mod}.shuffle_bytes"] = pt.job_sum("shuffle_bytes", con, exe)
        m[f"{mod}.input_bytes"] = pt.job_sum("input_bytes", con, exe)
    return m


# ------------------------------------------------------------ environment
def _cpus() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def _spark_cores() -> int:
    """Spark's task slots: half the CPUs. The rest is busy too: on a
    4-core host, in each 5 s pass of ``member_queries`` the JVM's
    compiler threads used 2-6 CPU seconds, the driver's planning threads
    about 3 and the Python workers about 1.3, on top of the 2-2.5 CPU
    seconds of the tasks themselves. More task slots than that only
    measures the scheduler."""
    return max(1, _cpus() // 2)


def _prepare_env(run_dir: Path) -> None:
    """Point every place the program or Spark writes at ``run_dir``, and
    make the package importable by Spark's Python workers."""
    (run_dir / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    tempfile.tempdir = None
    # every JVM Spark launches (the launcher too): temp files in run_dir,
    # no hsperfdata files in the system temp dir
    java_opts = f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), java_opts])
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ.pop("SPARK_MASTER", None)
    os.environ["SPARK_GRAFT_CPUS"] = str(_spark_cores())
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, str(ROOT))


def _start_session(run_dir: Path):
    from generic_data_ingestor_framework_spark.session import get_spark

    return get_spark("perfbench", extra_conf={
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        # the traced run reads every job of a pass back from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })


def _stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    started) to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _source_id() -> str:
    """git HEAD when the checkout is a repository, else a digest of the
    package sources (benchmark checkouts are plain file trees)."""
    if (ROOT / ".git").exists():
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True, text=True
        )
        if out.returncode == 0:
            return out.stdout.strip()
    h = hashlib.sha1()
    pkg = ROOT / "generic_data_ingestor_framework_spark"
    for p in sorted(pkg.rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return "src:" + h.hexdigest()[:16]


def _stamp(wl, seed: int, trace: bool, driver_mem: str) -> dict:
    import pyspark

    return {
        "cpus": _cpus(),
        "spark_cores": _spark_cores(),
        "driver_mem": driver_mem,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "git_sha": _source_id(),
        "sf": wl.sf,
        "seed": seed,
        "workload": wl.name,
        "traced": trace,
    }


# ------------------------------------------------------------------ run
def _setup(wl, run_dir: Path, seed: int):
    """SETUPS set-ups (session start, input generation, warm-up); the
    first also launches the JVM. Returns the last session, the set-up
    times and the first session start time."""
    spark, times, start_s = None, [], None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = _start_session(run_dir)
        if start_s is None:
            start_s = time.perf_counter() - t0
        inputs = run_dir / "inputs"
        shutil.rmtree(inputs, ignore_errors=True)
        wl.generate(inputs, seed)
        wl.warm(spark)
        times.append(time.perf_counter() - t0)
    return spark, times, start_s


def _pass_count(seconds: float) -> int:
    """Timed passes in a run: ``seconds`` at the nominal pass time, and
    at least MIN_PASSES. The count does not depend on the
    host's speed: the JVM keeps compiling for minutes and each pass
    makes the next one faster, so a run that stopped at a deadline on a
    busy host also stopped earlier in that warm-up and read slower
    twice over."""
    return max(MIN_PASSES, round(seconds / PASS_S))


def _measure(wl, spark, passes: int, trace: bool, run_id: str):
    """``passes`` timed passes. A traced run alternates traced and
    untraced passes, starting traced."""
    from tracer import Tracer

    tracer = Tracer(spark, run_id) if trace else None
    plain, traced = [], []
    for i in range(passes):
        if trace and i % 2 == 0:
            tracer.begin_pass()
            with tracer.patched():
                res = wl.run_pass(spark, tracer)
            traced.append((res, tracer.finish_pass()))
        else:
            plain.append(wl.run_pass(spark))
    return plain, traced, tracer


def _median(xs):
    return statistics.median(xs) if xs else None


def run(workload: str, seed: int, seconds: float, trace: bool) -> int:
    import workloads

    t_start = time.perf_counter()

    wl = workloads.make(workload)
    run_id = uuid.uuid4().hex[:8]
    run_dir = WORK / f"{workload}-{seed}-{run_id}"
    spark = None
    phases = {}
    try:
        _prepare_env(run_dir)
        import __spark_entry__  # noqa: F401 — fails fast when the program is missing

        phases["import"] = time.perf_counter() - t_start
        spark, setup_times, start_s = _setup(wl, run_dir, seed)
        phases["setup"] = sum(setup_times)
        driver_mem = spark.sparkContext.getConf().get("spark.driver.memory", "1g")
        t0 = time.perf_counter()
        check = wl.check(spark, ROOT)
        phases["check"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        plain, traced, tracer = _measure(wl, spark, _pass_count(seconds), trace, run_id)
        phases["measure"] = time.perf_counter() - t0
        cached_mb = sum(i.memSize() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()) / 1e6
    finally:
        t0 = time.perf_counter()
        _stop_jvm(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        phases["teardown"] = time.perf_counter() - t0

    passes = plain + [r for r, _ in traced]
    attempted = check.attempted + sum(p.attempted for p in passes)
    failed = check.failed + sum(p.failed for p in passes)
    problems = check.problems + [x for p in passes for x in p.problems]
    for p in problems[:20]:
        print(f"FAILED: {p}", file=sys.stderr)

    timed = plain if plain else passes
    # shared hosts slow down in bursts of seconds: each operation's
    # fastest run over the passes (every pass runs the same operations in
    # the same order) drops a burst that hit it in another pass, and
    # pass_s is the pass made of those runs
    best_ops = [min(runs) for runs in zip(*(p.ops for p in timed))]
    e2e = {
        "setup_s": _median(setup_times),
        "pass_s": sum(best_ops) if best_ops else None,
    }
    record = {
        **_stamp(wl, seed, trace, driver_mem),
        "seconds": seconds,
        "passes": len(timed),
        "traced_passes": len(traced),
        "setup_times_s": setup_times,
        "attempted": attempted,
        "failed": failed,
        "failed_ratio": failed / attempted if attempted else None,
        "metrics": e2e,
        "pass_times_s": [p.wall_s for p in timed],
        "op_p50_ms": 1000 * _median(best_ops) if best_ops else None,
        "ops": sum(len(p.ops) for p in timed),
        "cached_mb": cached_mb,
        "phase_s": phases,
    }
    per_op: dict[str, list[float]] = {}
    for p in timed:
        for n, t in zip(p.op_names, p.ops):
            per_op.setdefault(n, []).append(t)
    record["op_s"] = {n: _median(ts) for n, ts in per_op.items()}
    record["op_times_s"] = per_op
    if workload.startswith("cli_"):
        ingest = [p for p in timed if p.ingest_s > 0]
        record["ingest_rps"] = _median([p.records / p.ingest_s for p in ingest])
        record["stored_bytes_ratio"] = _median(
            [p.stored_bytes / wl.expect["input_bytes"] for p in ingest]
        )
    if trace:
        per_pass = [layer_metrics(pt, res.sink_files) for res, pt in traced]
        layers = {k: _median([pp[k] for pp in per_pass]) for k in per_pass[0]}
        layers["session.start_s"] = start_s
        plain_wall = _median([p.wall_s for p in plain])
        traced_wall = _median([r.wall_s for r, _ in traced])
        layers["trace.overhead_s"] = traced_wall - plain_wall if plain_wall is not None else None
        record["per_layer"] = layers
        WORK.mkdir(exist_ok=True)
        tracer.write(WORK / f"trace-{workload}-{seed}-{run_id}.jsonl")
        out_metrics = {n: layers.get(n) for n in per_layer_names()}
    else:
        out_metrics = e2e

    WORK.mkdir(exist_ok=True)
    with open(WORK / "records.jsonl", "a") as fh:
        fh.write(json.dumps(record) + "\n")
    correct = failed == 0 and all(v is not None for v in out_metrics.values())
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": END_TO_END.get(k) or unit_of(k)} for k, v in out_metrics.items()
        },
    }))
    return 0 if correct else 1


def main(argv: list[str] | None = None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    return run(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
