"""The benchmark's workloads.

Each workload is a closed loop with one client: the next operation
starts when the previous one has finished. An operation is one CLI
ingest, one SQL query or one member call. A workload generates its
inputs from the seed (``generate``), checks the program's outputs once
per process outside the timed passes (``check``), and then runs timed
passes (``run_pass``). Everything a pass needs that is not part of the
measured work (clearing memos, dropping the table the CLI wrote) runs
outside the timed region.
"""

from __future__ import annotations

import io
import os
import re
import time
from collections import Counter
from contextlib import nullcontext, redirect_stdout
from dataclasses import dataclass, field
from pathlib import Path

import gen
import members

_REPORT = {
    "files_processed": r"Files processed:\s+(\d+)",
    "files_failed": r"Files failed:\s+(\d+)",
    "total_records": r"Total records:\s+(\d+)",
    "dropped_non_dict": r"Dropped non-dict:\s+(\d+)",
}


@dataclass
class PassResult:
    wall_s: float = 0.0
    ops: list[float] = field(default_factory=list)  # operation latencies, s
    op_names: list[str] = field(default_factory=list)  # the operation of each latency
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    ingest_s: float = 0.0  # CLI wall time (cli_* workloads)
    records: int = 0  # records the CLI committed
    stored_bytes: int = 0  # table bytes on disk
    sink_files: int = 0  # data files in the table the CLI wrote

    def fail(self, problem: str) -> None:
        self.failed += 1
        self.problems.append(problem)


def data_files(root: Path) -> dict[str, int]:
    """Data files under ``root``: path -> size. Hidden and ``_``-prefixed
    files (checksums, commit markers) are not data."""
    return {
        os.path.join(d, n): os.path.getsize(os.path.join(d, n))
        for d, _, names in os.walk(root)
        for n in names
        if not n.startswith((".", "_"))
    }


def _span(tracer, name: str):
    return tracer.span(name) if tracer else nullcontext()


class CliWorkload:
    """A directory through the CLI's default path (parity mode, sorted
    schema, all-TEXT) into a fresh table, then READS counts of that
    table through ``query.execute_query``, each its own operation. A
    count takes about a tenth of a second, so a single one per pass
    would leave its timing to scheduling noise."""

    sf = None
    READS = 5

    def __init__(self, name: str):
        self.name = name
        self.expect: dict = {}
        self.inputs: Path | None = None
        self._n = 0

    def generate(self, inputs: Path, seed: int) -> None:
        self.inputs = inputs
        self.expect = gen.small_files(inputs, seed)

    def warm(self, spark) -> None:
        first = min(p for p in self.inputs.rglob("*.json"))
        spark.read.option("multiLine", "true").json(str(first)).count()

    def _ingest(self, spark, res: PassResult, tracer) -> str | None:
        from generic_data_ingestor_framework_spark import __main__ as cli

        self._n += 1
        table = f"perfbench_{self.name}_{self._n}"
        buf = io.StringIO()
        res.attempted += 1
        t0 = time.perf_counter()
        try:
            with _span(tracer, "cli.run"), redirect_stdout(buf):
                rc = cli.main([str(self.inputs), "--table", table])
        except Exception as ex:  # noqa: BLE001 — a failed operation is counted, not fatal
            res.fail(f"cli raised {type(ex).__name__}: {ex}")
            return None
        dt = time.perf_counter() - t0
        res.ingest_s += dt
        res.ops.append(dt)
        res.op_names.append("ingest")
        out = buf.getvalue()
        got = {k: int(m.group(1)) for k, rx in _REPORT.items() if (m := re.search(rx, out))}
        want = {k: self.expect[k] for k in _REPORT}
        if rc != 0 or got != want:
            res.fail(f"cli rc={rc} report={got} expected={want}")
            return table
        res.records += got["total_records"]
        return table

    def _reads(self, spark, table: str, res: PassResult, tracer) -> None:
        from generic_data_ingestor_framework_spark import query

        want = [(self.expect["total_records"],)]
        for _ in range(self.READS):
            res.attempted += 1
            t0 = time.perf_counter()
            try:
                df = query.execute_query(spark, f"SELECT count(*) AS n FROM {table}")
                with _span(tracer, "query.execute"):
                    rows = [tuple(r) for r in df.collect()]
            except Exception as ex:  # noqa: BLE001
                res.fail(f"count raised {type(ex).__name__}: {ex}")
                continue
            res.ops.append(time.perf_counter() - t0)
            res.op_names.append("count")
            if rows != want:
                res.fail(f"count: got {rows} expected {want}")

    def run_pass(self, spark, tracer=None, check_content: bool = False) -> PassResult:
        res = PassResult()
        t0 = time.perf_counter()
        table = self._ingest(spark, res, tracer)
        if table is not None:
            self._reads(spark, table, res, tracer)
        res.wall_s = time.perf_counter() - t0
        if table is None:
            return res
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        files = data_files(Path(warehouse) / table)
        res.sink_files = len(files)
        res.stored_bytes = sum(files.values())
        if check_content:
            self._check_content(spark, table, res)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        return res

    def _check_content(self, spark, table: str, res: PassResult) -> None:
        df = spark.table(table)
        if df.columns != self.expect["columns"]:
            res.fail(f"table columns {df.columns} expected {self.expect['columns']}")
            return
        got = Counter(tuple(r) for r in df.collect())
        want = Counter(self.expect["rows"])
        if got != want:
            missing = want - got
            res.fail(f"table content differs; {sum(missing.values())} expected rows missing, "
                     f"e.g. {next(iter(missing), None)}")

    def check(self, spark, repo_root: Path) -> PassResult:
        return self.run_pass(spark, check_content=True)


class MemberWorkload:
    """Query members over the generated parquet tables, each built and
    executed with a ``noop`` write. ``clear_caches()`` runs before each
    pass, outside the timed region, so every pass pays for every memo it
    uses and no pass replays another's results."""

    sf = 0.01

    def __init__(self, name: str, names: list[str]):
        self.name = name
        self.names = names
        self.sf_dir: Path | None = None

    def generate(self, inputs: Path, seed: int) -> None:
        self.sf_dir = inputs
        gen.tables(inputs, seed, self.sf)

    def warm(self, spark) -> None:
        spark.read.parquet(str(self.sf_dir / "lineitem.parquet")).count()

    def _registry(self):
        import __spark_entry__ as entry

        return entry.member_queries(), entry.member_oracles()

    def check(self, spark, repo_root: Path) -> PassResult:
        from generic_data_ingestor_framework_spark import clear_caches

        qs, oracles = self._registry()
        checker = members.OracleChecker(repo_root, self.sf_dir)
        res = PassResult()
        clear_caches()
        try:
            for n in self.names:
                res.attempted += 1
                try:
                    problem = checker.check(spark, n, qs[n], oracles[n], str(self.sf_dir))
                except Exception as ex:  # noqa: BLE001
                    problem = f"raised {type(ex).__name__}: {ex}"
                if problem:
                    res.fail(f"member {n}: {problem}")
        finally:
            checker.close()
        return res

    def run_pass(self, spark, tracer=None) -> PassResult:
        from generic_data_ingestor_framework_spark import clear_caches

        qs, _ = self._registry()
        clear_caches()
        res = PassResult()
        t_pass = time.perf_counter()
        for n in self.names:
            fn = qs[n]
            module = fn.__module__.removeprefix("generic_data_ingestor_framework_spark.")
            res.attempted += 1
            t0 = time.perf_counter()
            try:
                with _span(tracer, f"{module}.construct"):
                    df = fn(spark, str(self.sf_dir))
                with _span(tracer, f"{module}.execute"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as ex:  # noqa: BLE001
                res.fail(f"member {n} raised {type(ex).__name__}: {ex}")
                continue
            res.ops.append(time.perf_counter() - t0)
            res.op_names.append(n)
        res.wall_s = time.perf_counter() - t_pass
        return res


def make(name: str) -> CliWorkload | MemberWorkload:
    if name == "cli_small_files":
        return CliWorkload(name)
    if name == "member_queries":
        return MemberWorkload(name, members.MEMBER_QUERIES)
    raise ValueError(f"unknown workload: {name}")


WORKLOADS = ["cli_small_files", "member_queries"]
