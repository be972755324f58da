"""Time the CLI (by default the parity ingest, then create and fill a
table) on directories of large nested JSON arrays, one shape after the
other in one Spark session (``local[2]``). Arguments after ``--`` are
passed to the CLI, e.g. ``-- --mode bulk --lossless``.

Each shape is ``<files>x<records>``; a record is about 215 bytes, so
``4x20000`` is four files of 4.3 MB. Per shape the script writes the
files from ``--seed``, runs the CLI once untimed and ``--passes`` times
timed (each into a fresh table, checked for its row count, then
dropped) and prints one JSON line with the median, every run's time
and, beside it, the Spark jobs that run started (one job group per
run): a sweep over file counts shows where jobs grow with files.

To compare two commits, run the script once per checkout with
``--checkout`` naming the tree whose package is imported, alternating
which runs first:

    python3 tools/bench_parity_sizes.py --checkout <dir> --seed 1 8x2500 4x20000
    python3 tools/bench_parity_sizes.py --checkout <dir> 16x4000 -- --mode bulk --lossless
"""

from __future__ import annotations

import argparse
import io
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import redirect_stdout
from pathlib import Path

_CITIES = ["Lyon", "Oslo", "Kyiv", "Lima", "Pune", "Graz"]


def _write_shape(directory: Path, files: int, records: int, rng: random.Random) -> None:
    directory.mkdir(parents=True)
    for f in range(files):
        recs = [
            {
                "id": f * records + i,
                "name": f"user_{rng.randrange(10**6)}",
                "score": round(rng.random() * 100, 3),
                "active": rng.random() < 0.5,
                "addr": {
                    "city": rng.choice(_CITIES),
                    "zip": rng.randrange(10000, 99999),
                    "geo": {"lat": rng.random(), "lon": rng.random()},
                },
                "tags": [rng.choice(_CITIES) for _ in range(rng.randrange(0, 4))],
                "note": None if rng.random() < 0.3 else "x" * rng.randrange(5, 40),
            }
            for i in range(records)
        ]
        (directory / f"part_{f:03d}.json").write_text(json.dumps(recs))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("shapes", nargs="+", help="<files>x<records>, e.g. 4x20000")
    ap.add_argument("--checkout", default=str(Path(__file__).resolve().parents[1]))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--passes", type=int, default=3)
    argv = sys.argv[1:] if argv is None else argv
    split = argv.index("--") if "--" in argv else len(argv)
    args, cli_args = ap.parse_args(argv[:split]), argv[split + 1:]

    sys.path.insert(0, args.checkout)
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    os.environ["PYTHONPATH"] = args.checkout
    from generic_data_ingestor_framework_spark import __main__ as cli
    from generic_data_ingestor_framework_spark.session import get_spark

    work = Path(tempfile.mkdtemp(prefix="parity_sizes_"))
    spark = get_spark("parity-sizes", extra_conf={"spark.sql.warehouse.dir": str(work / "wh")})
    sc = spark.sparkContext
    try:
        for shape in args.shapes:
            files, records = map(int, shape.split("x"))
            inputs = work / f"in_{shape}"
            _write_shape(inputs, files, records, random.Random(args.seed))
            mb = sum(p.stat().st_size for p in inputs.iterdir()) / 2**20
            times, jobs = [], []
            for k in range(args.passes + 1):
                table = f"t_{shape}_{k}"
                sc.setJobGroup(table, f"bench_parity_sizes {shape} run {k}")
                t0 = time.perf_counter()
                with redirect_stdout(io.StringIO()):
                    rc = cli.main([str(inputs), "--table", table, *cli_args])
                dt = time.perf_counter() - t0
                sc.setLocalProperty("spark.jobGroup.id", None)
                n = spark.sql(f"SELECT count(*) FROM {table}").first()[0]
                if rc != 0 or n != files * records:
                    raise SystemExit(f"{shape}: rc={rc} rows={n}, expected {files * records}")
                spark.sql(f"DROP TABLE {table}")
                if k:
                    times.append(dt)
                    jobs.append(len(sc.statusTracker().getJobIdsForGroup(table)))
            print(json.dumps({
                "checkout": args.checkout, "cli_args": cli_args, "shape": shape,
                "file_mb": round(mb / files, 2),
                "seed": args.seed, "median_s": round(statistics.median(times), 3),
                "runs": [round(t, 3) for t in times], "jobs": jobs,
            }), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
