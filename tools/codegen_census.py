"""Count the classes Spark's whole-stage codegen compiles in each
memo-cleared pass over a set of members.

    python3 tools/codegen_census.py --set perfbench --passes 3
    python3 tools/codegen_census.py --set headline --passes 3 --seed 2
    python3 tools/codegen_census.py --members q1_pricing_summary,dedup_exact
    python3 tools/codegen_census.py --set registry --cache-entries 100

The inputs are the benchmark's own (``perfbench/workloads.py`` and the
generators in ``perfbench/gen.py``, sf0.01 tables from ``--seed``), and a
pass is the benchmark's pass: ``clear_caches()``, then every member built
and executed with a ``noop`` write (``--set cli``: one CLI ingest of the
small-files directory plus five counts). Spark runs as ``local[cpus/2]``
in this process, as the benchmark's does.

One JSON line per pass: classes compiled (``compilations``; a class served
from the generated-code cache compiles nothing), compile time, JVM
metaspace after the pass, wall time and failed operations. The first pass
of a fresh JVM compiles the whole working set; a later pass compiles only
what the cache could not hold. ``session.CODEGEN_CACHE_ENTRIES`` must
stay above the first pass's count for ``--set registry``: rerun this
whenever members are added. ``--cache-entries`` overrides the cap, to
compare against Spark's default of 100.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PERFBENCH = ROOT / "perfbench"


def _prepare_env(work: Path, cpus: int) -> None:
    """Spark's temp and local dirs under ``work``, and the package
    importable by Spark's Python workers."""
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.pop("SPARK_MASTER", None)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [str(ROOT), str(PERFBENCH)]


def _member_names(which: str, members_arg: str | None) -> list[str]:
    if members_arg:
        return [m for m in members_arg.split(",") if m]
    if which == "perfbench":
        import members

        return list(members.MEMBER_QUERIES)
    if which == "headline":
        import bench

        return list(bench.HEADLINE)
    import __spark_entry__ as entry

    return sorted(entry.member_queries())


def _metaspace_mb(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getName() == "Metaspace":
            return pool.getUsage().getUsed() / 1e6
    return float("nan")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--set", dest="which", default="perfbench",
                    choices=["perfbench", "headline", "registry", "cli"])
    ap.add_argument("--members", help="comma-separated member names (overrides --set)")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cpus", type=int, default=max(1, len(os.sched_getaffinity(0)) // 2))
    ap.add_argument("--cache-entries", type=int,
                    help="spark.sql.codegen.cache.maxEntries (default: the session's)")
    args = ap.parse_args(argv)

    work = Path(tempfile.mkdtemp(prefix="codegen_census_"))
    spark = None
    try:
        _prepare_env(work, args.cpus)
        import workloads

        from generic_data_ingestor_framework_spark.metrics import codegen_stats
        from generic_data_ingestor_framework_spark.session import get_spark

        conf = {"spark.sql.warehouse.dir": str(work / "warehouse")}
        if args.cache_entries:
            conf["spark.sql.codegen.cache.maxEntries"] = str(args.cache_entries)
        spark = get_spark("codegen_census", extra_conf=conf)
        if args.which == "cli" and not args.members:
            wl, label = workloads.make("cli_small_files"), "cli"
        else:
            names = _member_names(args.which, args.members)
            wl = workloads.MemberWorkload("census", names)
            label = "members" if args.members else args.which
        wl.generate(work / "inputs", args.seed)
        wl.warm(spark)
        cap = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
        for i in range(1, args.passes + 1):
            before = codegen_stats(spark)
            res = wl.run_pass(spark)
            after = codegen_stats(spark)
            print(json.dumps({
                "set": label,
                "pass": i,
                "operations": res.attempted,
                "failed": res.failed,
                "cache_entries": cap,
                "compilations": after["compilations"] - before["compilations"],
                "compile_ms": round(after["compile_ms"] - before["compile_ms"], 1),
                "metaspace_mb": round(_metaspace_mb(spark), 1),
                "wall_s": round(res.wall_s, 3),
                "seed": args.seed,
                "cpus": args.cpus,
            }), flush=True)
            for p in res.problems[:5]:
                print(f"FAILED: {p}", file=sys.stderr)
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
