"""Ingestion pipeline (SURVEY §2 A5-A6, A9-A11, A22, A24).

The reference's lifecycle — discover → parse JSON → normalize → add
lineage → concatenate → infer unified schema → save
(`src/core/application.py:36-153`) — re-expressed as Spark reads and
one union plan. ``ingest_directory`` runs it as one pipeline; its
``mode`` picks only how files are grouped into reads:

- ``parity`` (the CLI, webapp and pipeline default) reads the
  directory's JSON files in ONE distributed pass, one Spark job before
  the write however many files there are, each file's records exactly
  as its own read gives them (``_place``). A file the pass cannot place
  — not strictly valid JSON, empty, gzipped, over 1 MiB, a type
  widening, or not JSON — takes the per-file reader, but a ``[``-led
  text that is no JSON array fails from its classify row. The classify
  job parses a file's text twice: to an ``array<string>``, and strictly
  to a VARIANT, which gives the gate and, through ``schema_of_variant``,
  the file's element type (whose fields are its key set). The write
  parses it once more; its own read parses it twice, in a few jobs of
  its own. Per-file reads cost jobs, the pass bytes: on a 4-core host
  (``local[2]``, ``tools/bench_parity_sizes.py``, seed 1, the medians
  of two rounds of 3 runs, CLI ingest and write) the pass took
  1.86-2.10 s at 8x5000 (1.1 MB a file) against 2.65-3.11 s per file,
  1.55-1.66 s at 4x10000 (2.1 MB) against 1.64-1.73 s, 1.93-2.24 s at
  4x20000 (4.3 MB) against 1.93-2.23 s and 3.46-3.71 s at 2x80000
  (17 MB) against 2.27-2.63 s. From 2 to 4 MB the two tie, so the
  cutoff stays at 1 MiB.

  Each of the pass's two plans (classify, and the write's projection
  with its mask) is one SQL text over a temp view of the file listing,
  parsed and analyzed once in the JVM; the per-file values are bound as
  named parameters. On a 4-core host (``local[2]``, warm, the
  ``cli_small_files`` inputs of perfbench) building them took 23 and 53
  py4j commands and 0.12-0.16 s and 0.14-0.22 s; assembled Column by
  Column, the same plans took 1,340 and 1,522 commands and 0.28-0.48 s
  and 0.32-0.62 s. What is left is Spark's analysis.
- ``bulk`` (the scale path) makes one multi-path read per format and
  layout (``read_paths``), whose schema inference reads every byte: it
  wins on few large files and loses on many small ones. JSON is read
  with DROPMALFORMED, so a malformed document is dropped rather than
  failing its file, and a format's files are counted together. A
  format whose read fails (e.g. unmergeable parquet schemas) is left to
  the per-file reader.

The rest is shared: the per-file reader (``read_any_file``) for what
the read left, each bad file failing only itself (A24); one job
counting every frame for the run report (A22); the A7 all-TEXT
projection (``text_parity``); in lossless mode, text for a column
whose types a union cannot widen (``_as_text``); the schema unify
(``schema_mode``, A11).

Encoding (A6, `file_handler.py:147-170`): strict UTF-8 if the head
bytes decode, else latin-1, which decodes any bytes.
"""

from __future__ import annotations

import gzip
import json
import os
import re
import time
import uuid
import warnings
from dataclasses import dataclass, field
from functools import reduce
from itertools import combinations
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from generic_data_ingestor_framework_spark.normalize import (
    column,
    drop_corrupt_records,
    normalize_text_parity,
    quote,
)
from generic_data_ingestor_framework_spark.scanner import FileScanner

# latin-1 decodes any bytes, so the sniff never gets past it
FALLBACK_ENCODINGS = ["UTF-8", "ISO-8859-1"]

# row element name for the XML source (Spark 4 built-in data source);
# files written by sink-side Spark use the same tag, so round-trips are
# configuration-free
XML_ROW_TAG = "record"

_SNIFF_BYTES = 64 * 1024
_BOM = b"\xef\xbb\xbf"


def _logical_path(p: str) -> str:
    """Path with a trailing ``.gz`` stripped: Spark's text readers
    decompress by codec extension, so every FORMAT decision (layout,
    separator, multiline) must look at the inner extension."""
    return p[:-3] if p.lower().endswith(".gz") else p


def _open(path: str | Path, mode: str = "rb", **kw):
    """``open``, decompressing a ``.gz`` file as Spark's codec does."""
    return (gzip.open if str(path).lower().endswith(".gz") else open)(path, mode, **kw)


def _line_delimited(p: str) -> bool:
    return _logical_path(p).endswith((".jsonl", ".ndjson"))


def detect_encoding(path: str | Path) -> str:
    """A6: byte-sniff the encoding before handing the file to Spark.

    Spark's JSON reader replaces invalid UTF-8 with U+FFFD instead of
    failing, so a lenient read would silently mangle latin-1 input; the
    reference instead decodes strictly and falls back
    (`file_handler.py:147-170`, 1 KB probe at `:373-385`). Sniff the
    head bytes with strict decoding and return the first encoding that
    round-trips. Gzip members are sniffed on DECOMPRESSED bytes (the
    encoding option applies after Spark's codec decompression)."""
    with _open(path) as f:
        head = f.read(_SNIFF_BYTES)
    if head.startswith(_BOM):
        return "UTF-8"  # BOM: read_json_file lets Spark's reader strip it
    for enc in FALLBACK_ENCODINGS:
        try:
            head.decode(enc)
            return enc
        except UnicodeDecodeError:
            continue

CORRUPT_COL = "_corrupt_record"
SOURCE_COL = "_source_file"
# bounded driver-side sample for salvage element-schema inference (A11
# sample-based contract; the bulk re-parse stays fully in-plan)
SALVAGE_SCHEMA_SAMPLE = 100


@dataclass
class IngestReport:
    """A22 run metrics + A24 error list."""

    files_processed: int = 0
    files_failed: int = 0
    total_records: int = 0
    records_dropped_non_dict: int = 0
    errors: list[dict] = field(default_factory=list)
    elapsed_sec: float = 0.0

    @property
    def throughput_rps(self) -> float:
        return self.total_records / self.elapsed_sec if self.elapsed_sec > 0 else 0.0


def with_lineage(df: DataFrame) -> DataFrame:
    """A9: `_source_file` = basename of the originating file."""
    return df.withColumn(
        SOURCE_COL, F.element_at(F.split(F.input_file_name(), "/"), -1)
    )


def read_json_file(
    spark: SparkSession, path: str | Path, multiline: bool | None = None
) -> DataFrame:
    """A5+A6: whole-file JSON read with encoding fallback.

    ``multiline`` defaults by extension: `.jsonl`/`.ndjson` are
    line-delimited, `.json` is a whole-file array/object."""
    p = str(path)
    if multiline is None:
        multiline = not _logical_path(p).endswith((".jsonl", ".ndjson"))
    enc = detect_encoding(p)
    reader = (
        spark.read.option("multiLine", str(multiline).lower())
        .option("__globPaths__", "false")  # a path, not a pattern (see _list_json)
        .option("allowSingleQuotes", "false")  # Python json.load parity
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )
    # a whole-file read strips a UTF-8 BOM only when Spark detects the
    # charset itself; with an explicit encoding the BOM breaks the parse
    if multiline and enc == "UTF-8":
        with _open(p) as f:
            if f.read(len(_BOM)) == _BOM:
                enc = None
    if enc:
        reader = reader.option("encoding", enc)
    df = reader.json(p)
    df.schema  # force analysis so parse failures surface here
    return df


def _is_unparseable(df: DataFrame) -> bool:
    """A file whose every record is corrupt yields only the corrupt
    column (or nothing) — the reference treats that as a failed file."""
    cols = set(df.columns)
    return cols <= {CORRUPT_COL}


def salvage_json_elements(
    spark: SparkSession, path: str | Path
) -> tuple[DataFrame | None, int]:
    """A8 salvage for mixed top-level arrays.

    Spark's multiLine reader rejects a whole document whose top-level
    array mixes objects and scalars; the reference instead keeps the
    dict elements and silently drops the rest
    (`json_processor.py:57-61`). Reproduce that Spark-natively:
    binary read → ``decode`` with the sniffed encoding (the text
    source has no encoding option and would U+FFFD-mangle latin-1) →
    ``from_json(..., 'array<string>')`` (object elements come back as
    raw JSON text) → keep the objects (``_objs``, as the one-pass
    classify does) → ``from_json``
    them against an element schema inferred from a bounded sample →
    ``select("s.*")``.  The whole bulk path is JVM-side Catalyst
    expressions: no RDD scan, no Python runner stage (a multi-GB
    hostile file pays one decode, not a JVM→Python→JVM round-trip).

    Schema contract: the element schema is inferred from the first
    ``SALVAGE_SCHEMA_SAMPLE`` object elements — the same bounded
    sample-based inference contract as A11's ``infer_schema_sample``
    (the reference's own schema unify samples 10 records,
    ``main.py:121-128``); a field first appearing after the sample
    window is dropped from the salvaged projection.  Only that bounded
    sample and scalar counts ever reach the driver.

    Returns (parsed_df | None, n_dropped_non_dict).
    """
    enc = detect_encoding(path)
    # detect_encoding returns UTF-8 or ISO-8859-1, both charsets
    # F.decode supports
    raw = (
        spark.read.format("binaryFile").option("__globPaths__", "false").load(str(path))
        .select(F.regexp_replace(F.decode(F.col("content"), enc), "^\ufeff", "").alias("value"))
    )
    # from_json has its OWN parser options — without the explicit
    # allowSingleQuotes=false it would accept (and silently rewrite)
    # single-quoted pseudo-JSON that the strict fast path just rejected
    arr_df = raw.select(
        F.length(F.trim(F.col("value"))).alias("n_chars"),
        F.from_json(
            "value", "array<string>", {"allowSingleQuotes": "false"}
        ).alias("arr"),
    )
    stats = arr_df.select(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("n_chars") > 0, 1).otherwise(0)).alias("n_nonempty"),
        F.sum(F.when(F.col("arr").isNotNull(), 1).otherwise(0)).alias("n_arrays"),
        F.sum(F.coalesce(F.size("arr"), F.lit(0))).alias("n_elems"),
        F.sum(F.coalesce(F.size(F.expr(_objs("arr"))), F.lit(0))).alias("n_objs"),
    ).collect()[0]
    if stats["n_rows"] == 0 or not stats["n_nonempty"]:
        raise ValueError(f"empty file: {path}")
    if not stats["n_arrays"]:
        # not a JSON array: a single object parses on the fast path, so
        # reaching here means the document is malformed
        raise ValueError(f"no parseable JSON records in {path}")
    dropped = int(stats["n_elems"]) - int(stats["n_objs"])
    if not stats["n_objs"]:
        return None, dropped  # valid array, zero dict records (not an error)
    obj_df = arr_df.select(F.explode(F.expr(_objs("arr"))).alias("elem"))
    sample = [r.elem for r in obj_df.limit(SALVAGE_SCHEMA_SAMPLE).collect()]
    schema = (
        spark.read.option("allowSingleQuotes", "false")
        .json(spark.sparkContext.parallelize(sample))
        .schema
    )
    parsed = obj_df.select(
        F.from_json("elem", schema, {"allowSingleQuotes": "false"}).alias("s")
    ).select("s.*")
    return parsed, dropped


def read_json_records(
    spark: SparkSession, path: str | Path
) -> tuple[DataFrame, int]:
    """Full A5/A6/A8 read of one file: fast whole-file read with
    encoding fallback, then the mixed-array salvage path. Raises if the
    file has no parseable records. Returns (clean_df, n_dropped)."""
    raw = read_json_file(spark, path)
    dropped = 0
    if _is_unparseable(raw):
        salvaged, dropped = salvage_json_elements(spark, path)
        if salvaged is None:
            # valid array with zero dict records → empty, not an error
            return spark.createDataFrame([], T.StructType([])), dropped
        if _is_unparseable(salvaged):
            raise ValueError(f"no parseable JSON records in {path}")
        raw = salvaged
    return drop_corrupt_records(raw), dropped


_CSV_SEPARATORS = {".csv": ",", ".tsv": "\t", ".psv": "|"}


def read_csv_file(
    spark: SparkSession, path: str | Path | list[str], header: bool = True
) -> DataFrame:
    """CSV/TSV/PSV read (declared in the reference scanner,
    `file_scanner.py:22-29`, but never implemented there). All columns
    read as string — the reference's all-TEXT data model natively.
    Accepts a path list for one scan of several files (separator taken
    from the first path's extension)."""
    paths = [str(x) for x in path] if isinstance(path, list) else [str(path)]
    sep = _CSV_SEPARATORS.get(Path(_logical_path(paths[0])).suffix.lower(), ",")
    return (
        spark.read.option("header", str(header).lower())
        .option("sep", sep)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(paths)
    )


def read_csv_paths_bulk(spark: SparkSession, paths: list[str]) -> DataFrame:
    """CSV read of several files, grouped by (separator, header signature).

    Spark unions the files of one csv() scan POSITIONALLY: a file whose
    header reorders (or renames) columns lands its values in the wrong
    columns with only a console warning, and a tab-separated file swept
    into a comma scan collapses into one mangled column. Grouping by
    the first line (one local read per file — this ingest frontend is
    the reference's local-directory scanner; a remote-FS deployment
    would group via the FS client the same way) gives one scan per
    distinct header/separator and a by-NAME union across groups — no
    silent misalignment at any file count."""
    groups: dict[tuple[str, str], list[str]] = {}
    for p in paths:
        sep = _CSV_SEPARATORS.get(Path(_logical_path(p)).suffix.lower(), ",")
        with _open(p, "rt", encoding="utf-8", errors="replace") as fh:
            header = fh.readline().rstrip("\r\n")
        groups.setdefault((sep, header), []).append(p)
    frames = [read_csv_file(spark, ps) for ps in groups.values()]
    out = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)
    return drop_corrupt_records(out)


def read_json_paths_bulk(spark: SparkSession, paths: list[str]) -> DataFrame:
    """The scale path: one distributed multi-path read per JSON layout;
    Spark unions schemas natively and drops malformed documents inline.

    Line-delimited files (``.jsonl``/``.ndjson``) MUST be read with
    ``multiLine=false`` — under ``multiLine=true`` Spark parses each
    file as one document and silently keeps only the first object
    (records 2..N lost). Whole-file JSON needs the opposite. So the
    bulk read is one scan per layout, unioned with missing columns
    allowed.

    DROPMALFORMED (not PERMISSIVE): the corrupt-record column of a raw
    scan can't be counted/aggregated on its own (Spark restriction), and
    at scale you route bad records to a quarantine prefix via
    ``badRecordsPath`` rather than carrying them in-plan."""
    frames = []
    for multiline in (True, False):
        # each path escaped as a glob pattern matching only itself: with
        # globbing off (``__globPaths__``), Spark reads a path holding a
        # glob character as every path of the call, so files repeat
        group = [
            re.sub(r"([\\{}\[\]*?])", r"\\\1", p)
            for p in paths if _line_delimited(p) != multiline
        ]
        if group:
            frames.append(
                spark.read.option("multiLine", str(multiline).lower())
                .option("allowSingleQuotes", "false")
                .option("mode", "DROPMALFORMED")
                .json(group)
            )
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)


def read_paths(spark: SparkSession, paths: list[str], ftype: str) -> DataFrame:
    """Format dispatch (A2 classification → reader): ONE read of
    ``paths``, all of type ``ftype``, schemas merged by column name.
    JSON takes the bulk reader; one JSON file's own read, with the
    parity salvage, is ``read_json_records``."""
    if ftype == "json":
        return read_json_paths_bulk(spark, paths)
    if ftype == "csv":
        return read_csv_paths_bulk(spark, paths)
    if ftype in ("parquet", "orc"):
        return spark.read.option("mergeSchema", "true").format(ftype).load(paths)
    if ftype == "xml":
        return spark.read.format("xml").option("rowTag", XML_ROW_TAG).load(paths)
    raise ValueError(f"unsupported file type: {ftype}")


def read_any_file(
    spark: SparkSession, path: str | Path, ftype: str
) -> tuple[DataFrame, int]:
    """One file's read. Returns (clean_df, n_dropped_non_record)."""
    if ftype == "json":
        return read_json_records(spark, path)
    return read_paths(spark, [str(path)], ftype), 0


def _error(name: str, ex: Exception, note: str = "") -> dict:
    return {"file": name, "error": f"{type(ex).__name__}: {str(ex)[:400]}{note}"}


def ingest_directory(
    spark: SparkSession,
    directory: str | Path,
    mode: str = "parity",
    text_parity: bool = True,
    file_types: list[str] | None = None,
    include_patterns: list[str] | None = None,
    exclude_patterns: list[str] | None = None,
    schema_mode: str = "sorted",
) -> tuple[DataFrame | None, IngestReport]:
    """The reference pipeline end-to-end. Returns (DataFrame, report).

    ``mode`` picks how files are grouped into reads (see the module
    docstring): ``"parity"`` or ``"bulk"``.
    ``text_parity=True`` applies the A7 all-TEXT projection; False
    keeps lossless native types (the analytics-friendly default for
    new pipelines). ``file_types`` defaults to every supported format
    (json/csv/parquet/orc/xml) — a superset of the reference, which
    classifies csv/parquet but only ever ingests json (SURVEY §2.C);
    orc and xml ride Spark's built-in data sources.
    ``schema_mode`` picks the reference frontend being reproduced:
    ``"sorted"`` = CLI path (sorted union of all keys + lineage),
    ``"first_record"`` = Streamlit path (record-0 keys only, no
    lineage — see ``unify_schema_first_record``).
    """
    t0 = time.time()
    if not Path(directory).is_dir():
        raise NotADirectoryError(f"input directory does not exist: {directory}")
    report = IngestReport()
    scanner = FileScanner(directory)
    discovered = scanner.validate_discovered_files(
        scanner.discover_files(
            file_types=file_types or ["json", "csv", "parquet", "orc", "xml"],
            include_patterns=include_patterns,
            exclude_patterns=exclude_patterns,
        )
    )
    typed_paths = [
        (str(p), ftype) for ftype, ps in sorted(discovered.items()) for p in ps
    ]
    rank = {p: i for i, (p, _) in enumerate(typed_paths)}

    # the read step, the only part ``mode`` decides. Bulk reads each
    # format's files at once (``groups``, counted below); a format
    # whose read fails is left to the per-file reader, so one bad file
    # costs itself. Parity reads the JSON files in one pass (``placed``,
    # counted, or failed from its classify row). Every file neither
    # covers takes the per-file reader.
    placed, groups = _Placed(), []
    if mode == "bulk":
        for ftype, ps in sorted(discovered.items()):
            paths = [str(p) for p in ps]
            try:
                groups.append((paths, ftype, read_paths(spark, paths, ftype)))
            except Exception as ex:  # noqa: BLE001 — A24 continue-on-error
                report.errors.append(
                    _error(f"<bulk:{ftype}>", ex, " (degrading to per-file reads)")
                )
    else:
        try:
            placed = _place(spark, directory, typed_paths, text_parity)
        except Exception as ex:  # noqa: BLE001 — the per-file reader still isolates each file
            warnings.warn(f"one-pass JSON read failed, reading each file alone: {ex!r:.400}")
    report.records_dropped_non_dict += sum(placed.dropped.values())
    covered = set(placed.records).union(placed.failed, *(ps for ps, _, _ in groups))
    todo = groups + [([p], t, None) for p, t in typed_paths if p not in covered]

    errors: list[tuple[str, Exception]] = list(placed.failed.items())
    loaded: list[tuple[list[str], DataFrame, bool]] = []
    for paths, ftype, df in todo:
        try:
            dropped = 0
            if df is None:
                df, dropped = read_any_file(spark, paths[0], ftype)
                report.records_dropped_non_dict += dropped
            if text_parity:
                df = normalize_text_parity(df)
            df = with_lineage(df)
            if dropped:
                # salvage re-parse loses input_file_name(); pin lineage
                df = df.withColumn(SOURCE_COL, F.lit(Path(paths[0]).name))
            loaded.append((paths, df, ftype == "json"))
        except Exception as ex:  # noqa: BLE001 — A24 continue-on-error
            errors += [(p, ex) for p in paths]
    counted = [([p], n) for p, n in placed.records.items()]
    frames: list[tuple[int, DataFrame]] = []
    for (paths, df, _), n in zip(loaded, _count_rows([(f, j) for _, f, j in loaded])):
        if isinstance(n, Exception):
            errors += [(p, n) for p in paths]
            continue
        counted.append((paths, n))
        if n:  # valid-but-empty ([]): not processed, not an error
            frames.append((rank[paths[0]], df))
    for path, ex in sorted(errors, key=lambda e: rank[e[0]]):
        report.files_failed += 1
        report.errors.append(_error(Path(path).name, ex))

    processed = sorted((p for ps, n in counted if n for p in ps), key=rank.get)
    report.files_processed = len(processed)
    report.total_records = sum(n for _, n in counted)
    owned = [p for p in processed if p in placed.keys]
    # record 0 must come from the first processed file: with
    # first_record, it gets its own frame at the head of the union
    cut = 1 if schema_mode == "first_record" and owned[:1] == processed[:1] else 0
    frames += [
        (rank[g[0]], _project(placed, g, text_parity)) for g in (owned[:cut], owned[cut:]) if g
    ]
    frames.sort(key=lambda rf: rf[0])

    df = None
    if frames:
        dfs = [f for _, f in frames]
        if not text_parity:
            dfs = _as_text(dfs)
        df = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)
        # record-0 key-order source (web path): ONLY the first processed
        # file overall qualifies, and only when it is JSON — if a CSV or
        # parquet frame leads, record 0 comes from THAT frame (CSV frames
        # already carry their header order natively)
        first = processed[0]
        df = (
            unify_schema_first_record(
                df, first_file=first if dict(typed_paths)[first] == "json" else None
            )
            if schema_mode == "first_record"
            else unify_schema_sorted(df)
        )
    report.elapsed_sec = time.time() - t0
    return df, report


# ------------------------------------------------------------ parity mode
#
# One distributed pass over the directory's JSON files (see the module
# docstring): one Spark job classifies and types the files, and the
# caller's write runs the projection. Files the pass cannot place take
# the per-file reader. Each of the two plans is one SQL text over the
# file listing, parsed and analyzed once in the JVM; the per-file
# values (tags, encodings, key sets) are bound as named parameters,
# never spliced into the text.

_PASS_GLOB = "*.{json,jsonl,ndjson}"
# larger files take the per-file reader, which is faster once the bytes
# outweigh a file's jobs (see the module docstring)
_PASS_MAX_BYTES = 1024 * 1024
_PATH_COL = "_ingest_path"  # a row's file, kept past the text projection for the mask
_STRICT_JSON = "map('allowSingleQuotes', 'false')"  # Python json.load parity


def _path_key(p: str) -> str:
    """The ``path`` value Spark's file listing gives a local file."""
    return "file:" + os.path.abspath(p)


def _by_path(values: dict) -> str:
    """``values`` (path → value) as the JSON object a SQL text reads as
    a map and looks up by a row's ``path``."""
    return json.dumps({_path_key(p): v for p, v in values.items()})


def _sql(frame: DataFrame, text: str, **args) -> DataFrame:
    """``text``, which reads ``frame`` as ``IDENTIFIER(:frame)``, as one
    plan parsed and analyzed in the JVM, with ``args`` bound as named
    parameters. ``frame`` is a temp view under a unique name for the
    analysis only."""
    view = f"_ingest_{uuid.uuid4().hex}"
    frame.createTempView(view)
    try:
        return frame.sparkSession.sql(text, args={"frame": view, **args})
    finally:
        frame.sparkSession.catalog.dropTempView(view)


# SQL fragments, each a function of SQL expressions

def _is_obj(e: str) -> str:
    """A JSON element ``e`` (as raw text) that is an object."""
    return f"({e} IS NOT NULL AND startswith(ltrim({e}), '{{'))"


def _objs(arr: str) -> str:
    """The object elements of ``arr``, an ``array<string>`` of JSON
    elements."""
    return f"filter({arr}, e -> {_is_obj('e')})"


def _first_char(text: str) -> str:
    return rf"regexp_extract({text}, r'^\s*(\S)', 1)"


def _json_doc(text: str) -> str:
    """``text`` parsed strictly, as the one element of a JSON array
    (VARIANT): NULL when it is not JSON or repeats a key, and a second
    element when a value follows the first."""
    return f"try_parse_json(concat('[', {text}, ']'))"


def _one_value(doc: str) -> str:
    """A ``_json_doc`` that holds exactly one JSON value."""
    return f"({doc} IS NOT NULL AND variant_get({doc}, '$[1]', 'variant') IS NULL)"


def _per_kind(kind: str, obj: str, arr: str, mixed: str, lines: str) -> str:
    return (
        f"CASE {kind} WHEN 'object' THEN {obj} WHEN 'array' THEN {arr} "
        f"WHEN 'mixed' THEN {mixed} WHEN 'lines' THEN {lines} END"
    )


# The listing's files kept to those in ``:tags`` (path → tag): ``(path,
# tag, text, _source_file, arr, lines)``. ``text`` is the file
# decoded with its sniffed charset (``:encodings``), BOM stripped; NULL
# when bytes sniffed as UTF-8 are not valid UTF-8 (the sniff reads only
# the head). ``_source_file`` is the lineage ``with_lineage`` gives. The
# parses are columns, read by name, so each runs once per file, and
# only for the tags that read it: ``arr``, the top-level array's
# elements as raw JSON text (``whole``, ``mixed``); ``lines``, the
# non-blank lines (``lines``).
_SCAN = rf"""(
  SELECT *,
    CASE WHEN tag IN ('whole', 'mixed')
      THEN from_json(text, 'array<string>', {_STRICT_JSON}) END AS arr,
    CASE WHEN tag = 'lines'
      THEN filter(split(text, r'\r\n|\r|\n'), ln -> ln RLIKE r'\S') END AS lines
  FROM (
    SELECT path, tag,
      regexp_replace(
        CASE WHEN enc <> 'UTF-8' OR is_valid_utf8(content) THEN decode(content, enc) END,
        r'^\uFEFF', '') AS text,
      element_at(split(input_file_name(), '/'), -1) AS {SOURCE_COL}
    FROM (
      SELECT *, from_json(:tags, 'map<string,string>')[path] AS tag,
        from_json(:encodings, 'map<string,string>')[path] AS enc
      FROM IDENTIFIER(:frame)
    )
    WHERE tag IS NOT NULL
  )
)"""

_OBJS = _objs("arr")  # a scanned file's object elements

# The salvage generalized to every layout, per file: its kind, record
# and dropped counts, and the ``schema_of_variant`` of its records (of
# a mixed array, the first ``SALVAGE_SCHEMA_SAMPLE`` objects salvage
# infers its schema from), all read from the scan's parse and one strict
# parse of the file (``doc``) or of each line (``docs``). Spark's reader
# salvages an array only when a scalar element makes the whole document
# corrupt; with objects, nulls and nested arrays alone it returns
# neither: not placed.
_CLASSIFY = f"""
SELECT path, kind,
  {_per_kind('kind', '1', 'size(arr)', f'size({_OBJS})', 'size(lines)')} AS n,
  CASE WHEN kind = 'mixed' THEN size(arr) - size({_OBJS}) ELSE 0 END AS dropped,
  schema_of_variant({_per_kind(
    'kind', 'doc', "variant_get(doc, '$[0]')",
    "CAST(slice(filter(variant_get(doc, '$[0]', 'array<variant>'), (e, i) -> "
    f"{_is_obj('arr[i]')}), 1, {SALVAGE_SCHEMA_SAMPLE}) AS variant)",
    "CAST(transform(docs, d -> variant_get(d, '$[0]')) AS variant)",
  )}) AS schema
FROM (
  SELECT *, CASE
    WHEN text IS NULL THEN NULL
    WHEN tag = 'lines' THEN CASE
      WHEN size(lines) > 0 AND forall(lines, ln -> {_first_char('ln')} = '{{')
        AND forall(docs, d -> {_one_value('d')})
      THEN 'lines' END
    WHEN {_first_char('text')} = '[' AND arr IS NULL THEN 'broken'
    WHEN NOT {_one_value('doc')} THEN NULL
    WHEN {_first_char('text')} = '{{' THEN 'object'
    WHEN {_first_char('text')} = '[' AND size({_OBJS}) = size(arr) THEN 'array'
    WHEN {_first_char('text')} = '['
      AND exists(arr, e -> e IS NOT NULL AND NOT {_is_obj('e')} AND NOT startswith(ltrim(e), '['))
      THEN 'mixed'
  END AS kind
  FROM (
    SELECT *, CASE WHEN tag = 'whole' THEN {_json_doc('text')} END AS doc,
      transform(lines, ln -> {_json_doc('ln')}) AS docs
    FROM {_SCAN}
  )
)"""

# Of each file scanned with its kind as tag, its records parsed with the
# element schema ``:record`` (``:records``, its array), one row each.
# A mixed array keeps the lineage salvage pins: the file's name as
# listed, where input_file_name() gives it URL-encoded.
_PARSED = _per_kind(
    "tag", f"array(from_json(text, :record, {_STRICT_JSON}))",
    f"from_json(text, :records, {_STRICT_JSON})",
    f"transform({_OBJS}, o -> from_json(o, :record, {_STRICT_JSON}))",
    f"transform(lines, ln -> from_json(ln, :record, {_STRICT_JSON}))",
)
_PARSE = f"""
SELECT inline({_PARSED}),
  CASE WHEN tag = 'mixed' THEN element_at(split(path, '/'), -1) ELSE {SOURCE_COL} END
    AS {SOURCE_COL},
  path AS {_PATH_COL}
FROM {_SCAN}"""


def _list_json(spark: SparkSession, directory: str | Path) -> DataFrame:
    """The directory's JSON files as one ``binaryFile`` relation, listed
    once and scanned by each job of the pass. A file Hadoop cannot open
    (a ':' in its own name) is skipped, so it takes the per-file reader
    and fails alone; a placed file deleted before the write fails the
    write, as Spark never skips a missing file."""
    return (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", _PASS_GLOB)
        # the directory is a path, not a pattern: no glob expansion, which
        # would also read a ':' in a name as a URI scheme (the internal
        # option Spark's file stream source sets)
        .option("__globPaths__", "false")
        .option("ignoreCorruptFiles", "true")
        .load(os.path.abspath(directory))
        .where(F.col("length") <= _PASS_MAX_BYTES)  # pushed down: larger files are not read
    )


def _classify(files: DataFrame, layout: dict[str, str], encodings: dict[str, str]) -> DataFrame:
    """The pass's one job before the write: per file in ``layout`` (path
    → ``whole`` or ``lines``) its kind, record and dropped counts, and
    its records' ``schema_of_variant``. A file's kind is ``object``,
    ``array`` (every element an object, possibly none), ``mixed``
    (objects and scalars: the scalars are dropped, as salvage drops
    them), ``lines`` (line-delimited objects), ``broken`` (a ``[``-led
    text that is no JSON array: its own read fails), or NULL for another
    file the pass cannot place."""
    return _sql(files, _CLASSIFY, tags=_by_path(layout), encodings=_by_path(encodings))


# a backquoted name, or a type name or a bare field name, or the end of a type
_VARIANT_TOKEN = re.compile(r"`((?:[^`]|``)*)`|(\w+(?:\(\d+,\d+\))?|>)")
# schema_of_variant's scalar types of parsed JSON as JSON inference types
# the same values: only nulls, or values of no one type, as a string
_JSON_SCALAR = {
    "BIGINT": T.LongType(), "DOUBLE": T.DoubleType(), "BOOLEAN": T.BooleanType(),
    "STRING": T.StringType(), "VOID": T.StringType(), "VARIANT": T.StringType(),
}


def _json_type(variant_type: str) -> tuple[T.DataType | None, bool]:
    """The type ``spark.read.json`` infers for values whose
    ``schema_of_variant`` is ``variant_type``, and whether inference
    drops part of them: a field with an empty name, or an empty object
    with the field or array holding it (None when that is all of it).
    A decimal is a double, but one with no fraction and past the
    ``bigint`` digits raises ValueError: the variant keeps no trailing
    fractional zeros, so ``2.0`` beside ``1`` gives DECIMAL(20,0) as
    ``2**64`` does, where inference gives ``double`` and ``decimal(20,0)``."""
    tokens = [t or q.replace("``", "`") for q, t in _VARIANT_TOKEN.findall(variant_type)][::-1]
    dropped = False

    def parse() -> T.DataType | None:
        nonlocal dropped
        tok = tokens.pop()
        if tok == "ARRAY":
            elem, _ = parse(), tokens.pop()
            return None if elem is None else T.ArrayType(elem, True)
        if tok == "OBJECT":
            fields = []
            while tokens[-1] != ">":
                name, t = tokens.pop(), parse()
                if name and t is not None:
                    fields.append(T.StructField(name, t, True))
                dropped |= not name or t is None
            tokens.pop()
            dropped |= not fields
            return T.StructType(fields) if fields else None
        if not tok.startswith("DECIMAL"):
            return _JSON_SCALAR[tok]
        if tok.endswith(",0)") and int(tok[8:-3]) > 18:
            raise ValueError(f"{tok} may be a double or a decimal")
        return T.DoubleType()

    return parse(), dropped


def _merge_types(a: T.DataType, b: T.DataType) -> T.DataType | None:
    """``a`` and ``b`` merged when the merge only adds struct fields;
    None when it would widen a type. Struct fields keep the order
    Spark's inference gives them (by UTF-16 code unit)."""
    if a == b:
        return a
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        fa, fb = {f.name: f for f in a.fields}, {f.name: f for f in b.fields}
        fields = []
        for name in sorted(fa.keys() | fb.keys(), key=lambda n: n.encode("utf-16-be")):
            if name in fa and name in fb:
                t = _merge_types(fa[name].dataType, fb[name].dataType)
                if t is None:
                    return None
                fields.append(T.StructField(name, t, True))
            else:
                fields.append(fa.get(name) or fb[name])
        return T.StructType(fields)
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        t = _merge_types(a.elementType, b.elementType)
        return None if t is None else T.ArrayType(t, a.containsNull or b.containsNull)
    return None


def _case_dups(t: T.DataType) -> bool:
    """Whether a struct in ``t``, at any depth (arrays and map values
    included), holds two field names equal but for case: Spark resolves
    names case-insensitively, so a read of such a schema fails."""
    if isinstance(t, T.StructType):
        names = {f.name.lower() for f in t.fields}
        return len(names) < len(t.fields) or any(_case_dups(f.dataType) for f in t.fields)
    if isinstance(t, T.ArrayType):
        return _case_dups(t.elementType)
    if isinstance(t, T.MapType):
        return _case_dups(t.valueType)
    return False


@dataclass
class _Placed:
    """What the pass owns: per file (by path) its record and dropped
    counts, and for a file with records its kind and key set (the
    fields of its element schema: the columns its own read gives); the
    group's merged element schema; the broken files' errors."""

    kind: dict[str, str] = field(default_factory=dict)
    records: dict[str, int] = field(default_factory=dict)
    dropped: dict[str, int] = field(default_factory=dict)
    keys: dict[str, set[str]] = field(default_factory=dict)
    schema: T.StructType = field(default_factory=T.StructType)
    encodings: dict[str, str] = field(default_factory=dict)
    files: DataFrame | None = None  # the listed JSON files
    failed: dict[str, Exception] = field(default_factory=dict)


def _place(
    spark: SparkSession,
    directory: str | Path,
    typed_paths: list[tuple[str, str]],
    text_parity: bool,
) -> _Placed:
    """Classify and type the pass's candidate files (one job), then form
    the group of files whose schemas merge without widening any type,
    in discovery order. Files left out fall back, unless broken."""
    candidates = [
        p for p, ftype in typed_paths
        if ftype == "json" and not p.lower().endswith(".gz")
        and 0 < os.path.getsize(p) <= _PASS_MAX_BYTES
    ]
    if not candidates:
        return _Placed()
    out = _Placed(
        encodings={p: detect_encoding(p) for p in candidates},
        files=_list_json(spark, directory),
    )
    layout = {p: "lines" if _line_delimited(p) else "whole" for p in candidates}
    rows = {r["path"]: r for r in _classify(out.files, layout, out.encodings).collect()}

    # nested fields may be added to a column only when it is written as
    # JSON text that leaves the added (null) fields out
    nested_ok = text_parity and spark.conf.get(
        "spark.sql.jsonGenerator.ignoreNullFields", "true"
    ) == "true"
    merged: dict[str, T.DataType] = {}
    names: dict[str, str] = {}  # lower-cased → name: Spark resolves names case-insensitively
    pinned: set[str] = set()  # keys a strict file holds: their type must not change
    reserved = {CORRUPT_COL, SOURCE_COL, _PATH_COL}
    for p in candidates:
        r = rows.get(_path_key(p))
        if r is None or r["kind"] is None:
            continue
        if r["kind"] == "broken":  # the error its own read raises
            out.failed[p] = ValueError(f"no parseable JSON records in {p}")
            continue
        if r["n"] == 0:  # valid but no records: counted, nothing to merge
            out.records[p], out.dropped[p] = 0, r["dropped"]
            continue
        try:
            t, lossy = _json_type(r["schema"])
        except ValueError:  # a type the variant does not tell
            continue
        if not (isinstance(t, T.ArrayType) and isinstance(t.elementType, T.StructType)):
            continue
        fields = {f.name: f.dataType for f in t.elementType.fields}
        if (
            _case_dups(t)
            or not reserved.isdisjoint(fields)
            or any(names.get(n.lower(), n) != n for n in fields)
        ):
            continue
        # a strict file's columns must keep exactly its own types: all
        # of them without the text projection (a union keeps native
        # nested types), a lossy file's (its records can hold a nested
        # field its own schema drops), and a mixed array's beyond the
        # schema sample (its later records may hold unsampled fields)
        strict = (
            not nested_ok or lossy
            or (r["kind"] == "mixed" and r["n"] > SALVAGE_SCHEMA_SAMPLE)
        )
        types = {}
        for n, ft in fields.items():
            m = _merge_types(merged[n], ft) if n in merged else ft
            if (
                m is None or _case_dups(m) or (strict and m != ft)
                or (n in pinned and m != merged[n])
            ):
                break
            types[n] = m
        else:
            merged.update(types)
            names.update({n.lower(): n for n in fields})
            if strict:
                pinned.update(fields)
            out.kind[p], out.records[p], out.dropped[p] = r["kind"], r["n"], r["dropped"]
            out.keys[p] = set(fields)
    out.schema = T.StructType([T.StructField(n, t, True) for n, t in merged.items()])
    return out


def _project(placed: _Placed, files: list[str], text_parity: bool) -> DataFrame:
    """The shared ``from_json`` + ``inline`` projection of ``files``,
    all-TEXT when ``text_parity``. A column outside a file's key set
    stays NULL for its rows (a present null becomes ``""``); lineage
    last."""
    schema = placed.schema
    df = _sql(
        placed.files, _PARSE, tags=_by_path({p: placed.kind[p] for p in files}),
        encodings=_by_path(placed.encodings),
        record=schema.json(), records=T.ArrayType(schema).json(),
    )
    if text_parity:
        df = normalize_text_parity(df)
    # ``:has`` gives each file whether it holds each masked column
    masked = [n for n in schema.fieldNames() if not all(n in placed.keys[p] for p in files)]
    has = {p: [n in placed.keys[p] for n in masked] for p in files}
    at = {n: i for i, n in enumerate(masked)}
    cols = [
        f"CASE WHEN from_json(:has, 'map<string,array<boolean>>')[{_PATH_COL}][{at[n]}] "
        f"THEN {quote(n)} END AS {quote(n)}" if n in at else quote(n)
        for n in schema.fieldNames()
    ]
    mask = f"SELECT {', '.join(cols)}, {SOURCE_COL} FROM IDENTIFIER(:frame)"
    return _sql(df, mask, has=_by_path(has))


def _count_rows(frames: list[tuple[DataFrame, bool]]) -> list[int | Exception]:
    """Row count of each ``(frame, is_json)``, in one job. If the shared
    job fails, each frame is counted alone, so a bad file fails only
    itself."""

    def tag(i: int, f: DataFrame, is_json: bool) -> DataFrame:
        # a JSON frame's count reads one data column: with only the
        # corrupt-record column left to scan Spark refuses the count.
        # to_json takes any type and, unlike isNull, is not folded away
        data = [column(c) for c in f.columns if c != SOURCE_COL]
        h = F.length(F.to_json(F.struct(data[0]))) if is_json and data else F.lit(0)
        return f.select(F.lit(i).alias("i"), h.alias("h"))

    count = [F.count(F.lit(1)), F.max("h")]
    if not frames:
        return []
    try:
        tagged = reduce(DataFrame.union, [tag(i, *f) for i, f in enumerate(frames)])
        got = {r[0]: r[1] for r in tagged.groupBy("i").agg(*count).collect()}
        return [got.get(i, 0) for i in range(len(frames))]
    except Exception:  # noqa: BLE001 — degrade to per-frame counts
        out: list[int | Exception] = []
        for f in frames:
            try:
                out.append(tag(0, *f).agg(*count).first()[0])
            except Exception as ex:  # noqa: BLE001
                out.append(ex)
        return out


def _widens(a: T.DataType, b: T.DataType) -> bool:
    """Whether ``unionByName`` gives ``a`` and ``b`` one type: equal
    types, two numbers, or structs or arrays whose shared parts do (a
    struct field on one side only is added). Not a string and a
    non-string, a complex and a scalar type, a struct and an array, or
    two unequal maps."""
    if a == b or (isinstance(a, T.NumericType) and isinstance(b, T.NumericType)):
        return True
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        fb = {f.name.lower(): f.dataType for f in b.fields}
        return all(
            _widens(f.dataType, fb[f.name.lower()]) for f in a.fields if f.name.lower() in fb
        )
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return _widens(a.elementType, b.elementType)
    return False


def _as_text(frames: list[DataFrame]) -> list[DataFrame]:
    """Lossless mode's type reconciliation before the union: a column
    whose types ``_widens`` refuses becomes text in every frame, a
    complex value as its JSON (``to_json``, the A7 rule), a scalar
    cast. Left alone, the union refuses such a pair
    (``INCOMPATIBLE_COLUMN_TYPE``) or picks the numeric side of a
    string and a number and fails on the first non-numeric row
    (``CAST_INVALID_INPUT``)."""
    schemas = [f.schema for f in frames]
    types: dict[str, set[T.DataType]] = {}
    for schema in schemas:
        for fl in schema.fields:
            types.setdefault(fl.name.lower(), set()).add(fl.dataType)
    text = {c for c, ts in types.items() if not all(_widens(a, b) for a, b in combinations(ts, 2))}
    if not text:
        return frames
    complex_types = (T.StructType, T.ArrayType, T.MapType)
    return [
        f.select(*[
            (
                F.to_json(column(fl.name)) if isinstance(fl.dataType, complex_types)
                else column(fl.name).cast("string")
            ).alias(fl.name)
            if fl.name.lower() in text else column(fl.name)
            for fl in schema.fields
        ])
        for f, schema in zip(frames, schemas)
    ]


def unify_schema_first_record(df: DataFrame, first_file: str | Path | None = None) -> DataFrame:
    """A11, second frontend mode: the reference's Streamlit path infers
    the table schema from the FIRST processed record only
    (`app.py:168-175`) — later-appearing columns are silently dropped
    and no ``_source_file`` lineage exists on that path. Reproduced as
    an opt-in mode so a web-path user sees the same table shape.

    Column ORDER parity: the reference emits ``sample_record.keys()``
    in dict insertion order; Spark's JSON inference sorts keys, so when
    ``first_file`` is given, record 0's key order is recovered from the
    raw file with an order-preserving driver-side parse (non-dict array
    heads are skipped exactly like the reference's processor drops
    them). Without ``first_file`` the inference order stands. Remaining
    divergence (documented, SURVEY §1.3 path 2): a key that is null
    (or, after the A7 text projection, collapsed to ``""``) in record 0
    is indistinguishable from an absent key — all are dropped."""
    first = df.limit(1).collect()  # one row by contract, like the reference
    if not first:
        return df.selectExpr(*[quote(c) for c in df.columns if c != SOURCE_COL])
    row = first[0].asDict()
    cols = [
        c for c in df.columns if c != SOURCE_COL and row.get(c) not in (None, "")
    ]
    if first_file is not None:
        try:
            with _open(first_file, "rt", encoding=detect_encoding(first_file)) as fh:
                data = json.load(fh)
            rec0 = (
                next((x for x in data if isinstance(x, dict)), None)
                if isinstance(data, list)
                else data
            )
            if isinstance(rec0, dict):
                order = {k: i for i, k in enumerate(rec0)}
                cols.sort(key=lambda c: order.get(c, len(order)))
        except Exception:  # noqa: BLE001 — unreadable head file: keep inference order
            pass
    return df.selectExpr(*map(quote, cols))


def unify_schema_sorted(df: DataFrame) -> DataFrame:
    """A11 parity: columns sorted alphabetically (reference
    `_infer_simple_schema`, `application.py:219`), `_source_file` kept
    last for readability parity with the lineage injection order."""
    cols = sorted(c for c in df.columns if c != SOURCE_COL)
    if SOURCE_COL in df.columns:
        cols.append(SOURCE_COL)
    return df.selectExpr(*map(quote, cols))


def infer_schema_sample(df: DataFrame, sample: int = 10) -> list[dict]:
    """The reference's sample-of-10 inference contract
    (`application.py:197-227`): union of keys over the first N records,
    sorted, every column TEXT/nullable. Returned as column descriptors;
    we deliberately do NOT drop later-appearing columns from the data
    (documented divergence from the reference's silent data loss,
    SURVEY §1.3)."""
    head = df.limit(sample)
    keys: set[str] = set()
    for row in head.collect():
        d = row.asDict()
        keys.update(k for k, v in d.items() if v is not None or k in d)
    return [{"name": k, "type": "TEXT", "nullable": True} for k in sorted(keys)]
