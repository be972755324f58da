"""Time the CLI default path (parity ingest, then create and fill a
table) on directories of large nested JSON arrays, one shape after the
other in one Spark session (``local[2]``).

Each shape is ``<files>x<records>``; a record is about 215 bytes, so
``4x20000`` is four files of 4.3 MB. Per shape the script writes the
files from ``--seed``, runs the CLI once untimed and ``--passes`` times
timed (each into a fresh table, checked for its row count, then
dropped) and prints one JSON line with the median and every run.

To compare two commits, run the script once per checkout with
``--checkout`` naming the tree whose package is imported, alternating
which runs first:

    python3 tools/bench_parity_sizes.py --checkout <dir> --seed 1 8x2500 4x20000
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
    args = ap.parse_args(argv)

    sys.path.insert(0, args.checkout)
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    os.environ["PYTHONPATH"] = args.checkout
    from generic_data_ingestor_framework_spark import __main__ as cli
    from generic_data_ingestor_framework_spark.session import get_spark

    work = Path(tempfile.mkdtemp(prefix="parity_sizes_"))
    spark = get_spark("parity-sizes", extra_conf={"spark.sql.warehouse.dir": str(work / "wh")})
    try:
        for shape in args.shapes:
            files, records = map(int, shape.split("x"))
            inputs = work / f"in_{shape}"
            _write_shape(inputs, files, records, random.Random(args.seed))
            mb = sum(p.stat().st_size for p in inputs.iterdir()) / 2**20
            times = []
            for k in range(args.passes + 1):
                table = f"t_{shape}_{k}"
                t0 = time.perf_counter()
                with redirect_stdout(io.StringIO()):
                    rc = cli.main([str(inputs), "--table", table])
                dt = time.perf_counter() - t0
                n = spark.sql(f"SELECT count(*) FROM {table}").first()[0]
                if rc != 0 or n != files * records:
                    raise SystemExit(f"{shape}: rc={rc} rows={n}, expected {files * records}")
                spark.sql(f"DROP TABLE {table}")
                if k:
                    times.append(dt)
            print(json.dumps({
                "checkout": args.checkout, "shape": shape, "file_mb": round(mb / files, 2),
                "seed": args.seed, "median_s": round(statistics.median(times), 3),
                "runs": [round(t, 3) for t in times],
            }), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
