"""Ingestion pipeline (SURVEY §2 A5-A6, A9-A11, A22, A24).

The reference's lifecycle — discover → parse JSON → normalize → add
lineage → concatenate → infer unified schema → save
(`src/core/application.py:36-153`) — re-expressed as Spark reads and
one union plan.

Two execution modes:

- ``bulk`` (the scale path): ONE multi-path ``spark.read.json`` per
  format over all discovered files — distributed listing, distributed
  parse, native schema union, malformed documents dropped inline
  (DROPMALFORMED). This is what you run on 100 TB.
- ``parity`` (the reference contract, and the CLI, webapp and pipeline
  default): per-file error isolation and the reference's run report
  (files processed / failed / records / dropped non-dicts, A24/A22),
  with each file's records exactly as a separate read of that file
  gives them. It runs as ONE distributed pass over the directory's
  JSON files, a fixed number of Spark jobs however many files there
  are: a ``binaryFile`` scan decodes each file with its sniffed
  charset; JVM expressions classify it (one object, an all-object
  array, an array mixing objects and scalars, line-delimited objects,
  or valid-but-empty) and one job collects the per-file report; one
  schema-inference job over rows ``{"<path>": [records]}`` gives every
  file its own element schema; files whose schemas merge without
  widening a type share one ``from_json`` + ``inline`` projection,
  where a key absent from a whole file stays NULL. A file the pass
  cannot place takes the per-file reader (``read_any_file``): one that
  is not strictly valid JSON, empty, gzipped, over 1 MiB, a type
  widening, or not JSON at all. The pass parses each file about twice
  as often as a file's own read does, so it pays only where per-file
  jobs cost more than the bytes: on a 4-core host it won below about
  1 MB per file and lost from about 4 MB (``tools/bench_parity_sizes.py``).

Encoding fallback (A6) mirrors `file_handler.py:147-170`: utf-8-sig
first, then utf-8 / latin-1 / cp1252 / ascii, retried on parse failure.
"""

from __future__ import annotations

import json
import os
import re
import time
import warnings
from dataclasses import dataclass, field
from functools import reduce
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from generic_data_ingestor_framework_spark.normalize import (
    drop_corrupt_records,
    normalize_text_parity,
)
from generic_data_ingestor_framework_spark.scanner import FileScanner

FALLBACK_ENCODINGS = ["UTF-8", "ISO-8859-1", "windows-1252", "US-ASCII"]

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


def _line_delimited(p: str) -> bool:
    return _logical_path(p).endswith((".jsonl", ".ndjson"))


def _is_obj(j: Column) -> Column:
    """A JSON element (as raw text) that is an object."""
    return j.isNotNull() & F.ltrim(j).startswith("{")


def detect_encoding(path: str | Path) -> str:
    """A6: byte-sniff the encoding before handing the file to Spark.

    Spark's JSON reader replaces invalid UTF-8 with U+FFFD instead of
    failing, so a lenient read would silently mangle latin-1 input; the
    reference instead decodes strictly and falls back
    (`file_handler.py:147-170`, 1 KB probe at `:373-385`). Sniff the
    head bytes with strict decoding and return the first encoding that
    round-trips. Gzip members are sniffed on DECOMPRESSED bytes (the
    encoding option applies after Spark's codec decompression)."""
    if str(path).lower().endswith(".gz"):
        import gzip

        with gzip.open(path, "rb") as f:
            head = f.read(_SNIFF_BYTES)
    else:
        with open(path, "rb") as f:
            head = f.read(_SNIFF_BYTES)
    if head.startswith(_BOM):
        return "UTF-8"  # BOM: read_json_file lets Spark's reader strip it
    for enc in FALLBACK_ENCODINGS:
        try:
            head.decode(enc)
            return enc
        except (UnicodeDecodeError, LookupError):
            continue
    return "ISO-8859-1"  # total fallback: latin-1 accepts any bytes

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
        .option("allowSingleQuotes", "false")  # Python json.load parity
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )
    # a whole-file read strips a UTF-8 BOM only when Spark detects the
    # charset itself; with an explicit encoding the BOM breaks the parse
    if multiline and enc == "UTF-8":
        import gzip

        with (gzip.open if p.lower().endswith(".gz") else open)(p, "rb") as f:
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
    raw JSON text) → keep ``{``-prefixed elements → ``from_json``
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
    # detect_encoding only ever returns UTF-8 or ISO-8859-1 (latin-1
    # accepts every byte sequence, so later fallbacks are unreachable) —
    # both are charsets F.decode supports
    raw = spark.read.format("binaryFile").load(str(path)).select(
        F.regexp_replace(F.decode(F.col("content"), enc), "^\ufeff", "").alias("value")
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
        F.sum(F.coalesce(F.size(F.filter("arr", _is_obj)), F.lit(0))).alias("n_objs"),
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
    obj_df = arr_df.select(F.explode(F.filter("arr", _is_obj)).alias("elem"))
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
    Accepts a path list for the bulk mode's one-scan-per-format read
    (separator taken from the first path's extension)."""
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
    """Bulk CSV read, grouped by (separator, header signature).

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
        if p.lower().endswith(".gz"):
            import gzip

            with gzip.open(p, "rt", encoding="utf-8", errors="replace") as fh:
                header = fh.readline().rstrip("\r\n")
        else:
            with open(p, encoding="utf-8", errors="replace") as fh:
                header = fh.readline().rstrip("\r\n")
        groups.setdefault((sep, header), []).append(p)
    frames = [read_csv_file(spark, ps) for ps in groups.values()]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def read_any_file(
    spark: SparkSession, path: str | Path, ftype: str
) -> tuple[DataFrame, int]:
    """Format dispatch (A2 classification → reader). Returns
    (clean_df, n_dropped_non_record)."""
    if ftype == "json":
        return read_json_records(spark, path)
    if ftype == "csv":
        return drop_corrupt_records(read_csv_file(spark, path)), 0
    if ftype == "parquet":
        return spark.read.parquet(str(path)), 0
    if ftype == "orc":
        return spark.read.orc(str(path)), 0
    if ftype == "xml":
        return (
            spark.read.format("xml").option("rowTag", XML_ROW_TAG).load(str(path)),
            0,
        )
    raise ValueError(f"unsupported file type: {ftype}")


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
    if not typed_paths:
        report.elapsed_sec = time.time() - t0
        return None, report

    if mode == "bulk":
        # one distributed multi-path read PER FORMAT, then a schema-
        # merging union — the whole directory becomes ~3 scans no
        # matter how many files it holds. If a format's group scan
        # fails (e.g. unmergeable parquet schemas), it DEGRADES to
        # per-file reads so one bad file costs itself, not the format
        # group (A24 continue-on-error at file granularity either way).
        # Bad JSON documents are dropped inline (DROPMALFORMED).
        frames = []
        for ftype, reader in (
            ("json", lambda ps: read_json_paths_bulk(spark, ps)),
            ("csv", lambda ps: with_lineage(read_csv_paths_bulk(spark, ps))),
            ("parquet", lambda ps: with_lineage(
                spark.read.option("mergeSchema", "true").parquet(*ps)
            )),
            ("orc", lambda ps: with_lineage(
                spark.read.option("mergeSchema", "true").orc(*ps)
            )),
            ("xml", lambda ps: with_lineage(
                spark.read.format("xml").option("rowTag", XML_ROW_TAG).load(ps)
            )),
        ):
            paths = [p for p, t in typed_paths if t == ftype]
            if not paths:
                continue
            try:
                frames.append(reader(paths))
                report.files_processed += len(paths)
            except Exception as ex:  # noqa: BLE001 — A24 continue-on-error
                report.errors.append(
                    {
                        "file": f"<bulk:{ftype}>",
                        "error": f"{type(ex).__name__}: {str(ex)[:400]}"
                        + " (degrading to per-file reads)",
                    }
                )
                for p in paths:
                    try:
                        fdf, _ = read_any_file(spark, p, ftype)
                        # literal lineage: input_file_name() is empty
                        # for salvaged (driver-parsed) frames, and the
                        # per-file path knows its file exactly
                        frames.append(
                            fdf.withColumn(SOURCE_COL, F.lit(Path(p).name))
                        )
                        report.files_processed += 1
                    except Exception as fex:  # noqa: BLE001
                        report.files_failed += 1
                        report.errors.append(
                            {
                                "file": Path(p).name,
                                "error": f"{type(fex).__name__}: {str(fex)[:400]}",
                            }
                        )
        if not frames:
            report.elapsed_sec = time.time() - t0
            return None, report
        frames = [
            f.drop(CORRUPT_COL) if CORRUPT_COL in f.columns else f for f in frames
        ]
        # harmonize type-conflicted columns to string BEFORE the union:
        # ANSI union coercion picks the numeric side for string+double
        # and then fails (or corrupts) at runtime on non-numeric rows —
        # the all-TEXT widening is the reference's own data model
        seen: dict[str, set[str]] = {}
        for f in frames:
            for c, t in f.dtypes:
                seen.setdefault(c, set()).add(t)
        conflicted = {c for c, ts in seen.items() if len(ts) > 1}
        if conflicted:
            frames = [
                f.select(
                    *[
                        f[c].cast("string").alias(c) if c in conflicted else f[c]
                        for c in f.columns
                    ]
                )
                for f in frames
            ]
        df = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)
        report.total_records = df.count()
        report.elapsed_sec = time.time() - t0
        return df, report

    return _ingest_parity(spark, directory, typed_paths, text_parity, schema_mode, report, t0)


# ------------------------------------------------------------ parity mode
#
# One distributed pass over the directory's JSON files (see the module
# docstring): one Spark job classifies the files, one infers every
# file's element schema, and the caller's write runs the projection.
# Files the pass cannot place take the per-file reader.

_PASS_GLOB = "*.{json,jsonl,ndjson}"
# larger files take the per-file reader, which is faster once the bytes
# outweigh a file's jobs (see the module docstring)
_PASS_MAX_BYTES = 1024 * 1024
_KEYS_COL = "_ingest_keys"
_STRICT_JSON = {"allowSingleQuotes": "false"}  # Python json.load parity
# text that may hold a field Spark's schema inference drops (an empty
# object or an empty key): such a file's records can carry a nested
# field its own schema lacks, so the merge must not add nested fields
# to its columns
_LOSSY_TEXT = r'\{\s*\}|""\s*:'


def _path_key(p: str) -> str:
    """The ``path`` value Spark's file listing gives a local file."""
    return "file:" + os.path.abspath(p)


def _first_char(text: Column) -> Column:
    return F.regexp_extract(text, r"^\s*(\S)", 1)


def _one_json_value(text: Column) -> Column:
    """Strict check: ``text`` is exactly one JSON value, with no
    trailing text and no duplicate keys."""
    w = F.try_parse_json(F.concat(F.lit("["), text, F.lit("]")))
    return w.isNotNull() & F.variant_get(w, "$[1]", "variant").isNull()


def _by_path(values: dict[str, str]) -> Column:
    """The value ``values`` (path → string) holds for the row's file,
    NULL for any other file: one map literal looked up by ``path``."""
    lookup = json.dumps({_path_key(p): v for p, v in values.items()})
    return F.from_json(F.lit(lookup), "map<string,string>")[F.col("path")]


def _list_json(spark: SparkSession, directory: str | Path) -> DataFrame:
    """The directory's JSON files as one ``binaryFile`` relation, listed
    once and scanned by each job of the pass."""
    return (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", _PASS_GLOB)
        # escaped: Spark expands glob characters in a load path
        .load(re.sub(r"([{}\[\]*?\\])", r"\\\1", os.path.abspath(directory)))
        .where(F.col("length") <= _PASS_MAX_BYTES)  # pushed down: larger files are not read
    )


def _scan_json(files: DataFrame, tags: dict[str, str], encodings: dict[str, str]) -> DataFrame:
    """``files`` kept to those in ``tags`` (path → tag): ``(path, tag,
    text, _source_file)``. ``text`` is the file decoded with its sniffed
    charset (from ``encodings``), BOM stripped; NULL when bytes sniffed
    as UTF-8 are not valid UTF-8 (the sniff reads only the head).
    ``_source_file`` is the lineage ``with_lineage`` gives."""
    text = F.when(F.is_valid_utf8("content"), F.decode("content", "UTF-8"))
    other = {p: encodings[p] for p in tags if encodings[p] != "UTF-8"}
    if other:
        enc = _by_path(other)
        for e in sorted(set(other.values())):
            text = F.when(enc == e, F.decode("content", e)).otherwise(text)
    return with_lineage(
        files.withColumn("tag", _by_path(tags)).where(F.col("tag").isNotNull())
    ).select("path", "tag", F.regexp_replace(text, "^\ufeff", "").alias("text"), SOURCE_COL)


def _per_kind(kind: Column, obj: Column, arr: Column, mixed: Column, lines: Column) -> Column:
    return (
        F.when(kind == "object", obj).when(kind == "array", arr)
        .when(kind == "mixed", mixed).when(kind == "lines", lines)
    )


class _Parts:
    """The salvage expressions over a file's ``text``, generalized to
    every layout. A file's kind is ``object`` (one top-level object),
    ``array`` (every element an object, possibly none), ``mixed``
    (objects and scalars: the scalars are dropped, as salvage drops
    them), ``lines`` (line-delimited objects), or NULL for a file the
    pass cannot place."""

    def __init__(self) -> None:
        self.text = F.col("text")
        self.arr = F.from_json(self.text, "array<string>", _STRICT_JSON)
        self.objs = F.filter(self.arr, _is_obj)
        self.sample = F.slice(self.objs, 1, SALVAGE_SCHEMA_SAMPLE)
        self.lines = F.filter(F.split(self.text, r"\r\n|\r|\n"), lambda ln: ln.rlike(r"\S"))

    def kind(self, line_delimited: Column) -> Column:
        t = self.text
        good_line = lambda ln: (_first_char(ln) == "{") & _one_json_value(ln)  # noqa: E731
        # Spark's reader salvages an array only when a scalar element
        # makes the whole document corrupt; with objects, nulls and
        # nested arrays alone it returns neither: not placed
        scalar = F.exists(
            self.arr, lambda e: e.isNotNull() & ~_is_obj(e) & ~F.ltrim(e).startswith("[")
        )
        return (
            F.when(t.isNull(), None)
            .when(
                line_delimited,
                F.when((F.size(self.lines) > 0) & F.forall(self.lines, good_line), "lines"),
            )
            .when(~_one_json_value(t), None)
            .when(_first_char(t) == "{", "object")
            .when((_first_char(t) == "[") & (F.size(self.objs) == F.size(self.arr)), "array")
            .when((_first_char(t) == "[") & scalar, "mixed")
        )

    def records(self, kind: Column) -> Column:
        return _per_kind(kind, F.lit(1), F.size(self.arr), F.size(self.objs), F.size(self.lines))

    def dropped(self, kind: Column) -> Column:
        return F.when(kind == "mixed", F.size(self.arr) - F.size(self.objs)).otherwise(0)

    def keys(self, kind: Column) -> Column:
        """Top-level keys of the records the file's schema is inferred
        from — the file's presence mask, as a data column."""
        of = lambda xs: F.array_distinct(F.flatten(F.transform(xs, F.json_object_keys)))  # noqa: E731
        return _per_kind(
            kind, F.json_object_keys(self.text), of(self.arr), of(self.sample), of(self.lines)
        )

    def sample_text(self, kind: Column) -> Column:
        """The records schema inference sees, as one JSON array; a
        mixed array gives its first ``SALVAGE_SCHEMA_SAMPLE`` objects,
        as salvage does."""
        t = self.text
        join = lambda xs: F.concat(F.lit("["), F.array_join(xs, ","), F.lit("]"))  # noqa: E731
        return _per_kind(
            kind, F.concat(F.lit("["), t, F.lit("]")), t, join(self.sample), join(self.lines)
        )

    def parsed(self, kind: Column, schema: T.StructType) -> Column:
        parse = lambda x: F.from_json(x, schema, _STRICT_JSON)  # noqa: E731
        return _per_kind(
            kind,
            F.array(parse(self.text)),
            F.from_json(self.text, T.ArrayType(schema), _STRICT_JSON),
            F.transform(self.objs, parse),
            F.transform(self.lines, parse),
        )


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


def _infer_element_types(spark: SparkSession, wrapped: DataFrame) -> dict[str, T.DataType]:
    """One JSON schema-inference job over rows ``{"<path>": [records]}``:
    a file's field holds the array of the element schema a separate
    read of that file infers."""
    jds = getattr(wrapped._jdf, "as")(spark._jvm.org.apache.spark.sql.Encoders.STRING())
    jschema = spark._jsparkSession.read().option("allowSingleQuotes", "false").json(jds).schema()
    return {f.name: f.dataType for f in T.StructType.fromJson(json.loads(jschema.json())).fields}


@dataclass
class _Placed:
    """What the pass owns: per file (by path) its record and dropped
    counts, and for a file with records its kind and key set; the
    group's merged element schema."""

    kind: dict[str, str] = field(default_factory=dict)
    records: dict[str, int] = field(default_factory=dict)
    dropped: dict[str, int] = field(default_factory=dict)
    keys: dict[str, set[str]] = field(default_factory=dict)
    schema: T.StructType = field(default_factory=T.StructType)
    encodings: dict[str, str] = field(default_factory=dict)
    files: DataFrame | None = None  # the listed JSON files


def _place(
    spark: SparkSession, directory: str | Path, candidates: list[str], text_parity: bool
) -> _Placed:
    """Classify ``candidates`` and infer their schemas (two jobs), then
    form the group of files whose schemas merge without widening any
    type, in discovery order. Files left out fall back."""
    out = _Placed(
        encodings={p: detect_encoding(p) for p in candidates},
        files=_list_json(spark, directory),
    )
    parts = _Parts()
    layout = {p: "lines" if _line_delimited(p) else "whole" for p in candidates}
    rows = (
        _scan_json(out.files, layout, out.encodings)
        .withColumn("kind", parts.kind(F.col("tag") == "lines"))
        .select(
            "path", "kind",
            parts.records(F.col("kind")).alias("n"),
            parts.dropped(F.col("kind")).alias("dropped"),
            parts.keys(F.col("kind")).alias("keys"),
            F.col("text").rlike(_LOSSY_TEXT).alias("lossy"),
        )
        .collect()
    )
    by_key = {r["path"]: r for r in rows if r["kind"] is not None}
    found = {p: by_key[_path_key(p)] for p in candidates if _path_key(p) in by_key}
    nonempty = {p: r["kind"] for p, r in found.items() if r["n"] > 0}
    elem: dict[str, T.DataType] = {}
    if nonempty:
        name = F.regexp_extract(F.to_json(F.array("path")), r"^\[(.*)\]$", 1)
        wrapped = (
            _scan_json(out.files, nonempty, out.encodings)
            .select(F.concat(
                F.lit("{"), name, F.lit(":"), parts.sample_text(F.col("tag")), F.lit("}")
            ))
        )
        elem = _infer_element_types(spark, wrapped)

    # nested fields may be added to a column only when it is written as
    # JSON text that leaves the added (null) fields out
    nested_ok = text_parity and spark.conf.get(
        "spark.sql.jsonGenerator.ignoreNullFields", "true"
    ) == "true"
    merged: dict[str, T.DataType] = {}
    names: dict[str, str] = {}  # lower-cased → name: Spark resolves names case-insensitively
    pinned: set[str] = set()  # keys a strict file holds: their type must not change
    reserved = {CORRUPT_COL, SOURCE_COL, _KEYS_COL}
    for p, r in found.items():
        if r["n"] == 0:  # valid but no records: counted, nothing to merge
            out.records[p], out.dropped[p] = 0, r["dropped"]
            continue
        t = elem.get(_path_key(p))
        if not (isinstance(t, T.ArrayType) and isinstance(t.elementType, T.StructType)):
            continue
        fields = {f.name: f.dataType for f in t.elementType.fields}
        if (
            not fields
            or set(fields) != set(r["keys"] or ())
            or len({n.lower() for n in fields}) < len(fields)
            or any(n in reserved or "." in n or "`" in n for n in fields)
            or any(names.get(n.lower(), n) != n for n in fields)
        ):
            continue
        # a strict file's columns must keep exactly its own types: all
        # of them without the text projection (a union keeps native
        # nested types), a lossy file's, and a mixed array's beyond the
        # schema sample (its later records may hold unsampled fields)
        strict = (
            not nested_ok or r["lossy"]
            or (r["kind"] == "mixed" and r["n"] > SALVAGE_SCHEMA_SAMPLE)
        )
        types = {}
        for n, ft in fields.items():
            m = _merge_types(merged[n], ft) if n in merged else ft
            if m is None or (strict and m != ft) or (n in pinned and m != merged[n]):
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
    all-TEXT when ``text_parity``. A key absent from a whole file stays
    NULL for its rows (a present null becomes ``""``); lineage last."""
    schema = placed.schema
    masked = [n for n in schema.fieldNames() if not all(n in placed.keys[p] for p in files)]
    parts = _Parts()
    kind = F.col("tag")
    # a mixed array keeps the lineage salvage pins: the file's name as
    # listed, where input_file_name() gives it URL-encoded
    source = F.when(kind == "mixed", F.element_at(F.split("path", "/"), -1))
    cols = [
        F.inline(parts.parsed(kind, schema)),
        source.otherwise(F.col(SOURCE_COL)).alias(SOURCE_COL),
    ]
    if masked:
        cols.append(F.to_json(parts.keys(kind)).alias(_KEYS_COL))
    df = _scan_json(placed.files, {p: placed.kind[p] for p in files}, placed.encodings)
    df = df.select(*cols)
    if text_parity:
        df = normalize_text_parity(df)
    if not masked:
        return df
    has = F.from_json(_KEYS_COL, "array<string>")
    return df.select(
        *[
            F.when(F.array_contains(has, n), F.col(n)).alias(n) if n in masked else F.col(n)
            for n in schema.fieldNames()
        ],
        SOURCE_COL,
    )


def _count_rows(frames: list[tuple[DataFrame, bool]]) -> list[int | Exception]:
    """Row count of each ``(frame, is_json)``, in one job. If the shared
    job fails, each frame is counted alone, so a bad file fails only
    itself."""

    def tag(i: int, f: DataFrame, is_json: bool) -> DataFrame:
        # a JSON frame's count reads one data column: with only the
        # corrupt-record column left to scan Spark refuses the count.
        # to_json takes any type and, unlike isNull, is not folded away
        data = [F.col("`" + c.replace("`", "``") + "`") for c in f.columns if c != SOURCE_COL]
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


def _ingest_parity(
    spark: SparkSession,
    directory: str | Path,
    typed_paths: list[tuple[str, str]],
    text_parity: bool,
    schema_mode: str,
    report: IngestReport,
    t0: float,
) -> tuple[DataFrame | None, IngestReport]:
    """Parity mode: the one-pass read, then the per-file reader for the
    files it did not place, unioned in discovery order."""
    rank = {p: i for i, (p, _) in enumerate(typed_paths)}
    candidates = [
        p for p, ftype in typed_paths
        if ftype == "json" and not p.lower().endswith(".gz")
        and 0 < os.path.getsize(p) <= _PASS_MAX_BYTES
    ]
    placed = _Placed()
    try:
        if candidates:
            placed = _place(spark, directory, candidates, text_parity)
    except Exception as ex:  # noqa: BLE001 — the per-file reader still isolates each file
        warnings.warn(f"one-pass JSON read failed, reading each file alone: {ex!r:.400}")
    counts = dict(placed.records)
    report.records_dropped_non_dict += sum(placed.dropped.values())

    # the per-file reader for every file the pass did not place
    errors: list[tuple[str, Exception]] = []
    loaded: list[tuple[str, DataFrame, bool]] = []
    for path, ftype in typed_paths:
        if path in placed.records:
            continue
        try:
            clean, dropped = read_any_file(spark, path, ftype)
            report.records_dropped_non_dict += dropped
            if text_parity:
                clean = normalize_text_parity(clean)
            clean = with_lineage(clean)
            if dropped:
                # salvage re-parse loses input_file_name(); pin lineage
                clean = clean.withColumn(SOURCE_COL, F.lit(Path(path).name))
            loaded.append((path, clean, ftype == "json"))
        except Exception as ex:  # noqa: BLE001 — A24 continue-on-error
            errors.append((path, ex))
    frames: list[tuple[int, DataFrame]] = []
    for (path, clean, _), n in zip(loaded, _count_rows([(f, j) for _, f, j in loaded])):
        if isinstance(n, Exception):
            errors.append((path, n))
            continue
        counts[path] = n
        if n:  # valid-but-empty ([]): not processed, not an error
            frames.append((rank[path], clean))
    for path, ex in sorted(errors, key=lambda e: rank[e[0]]):
        report.files_failed += 1
        report.errors.append(
            {"file": Path(path).name, "error": f"{type(ex).__name__}: {str(ex)[:400]}"}
        )

    processed = sorted((p for p, n in counts.items() if n), key=rank.get)
    report.files_processed = len(processed)
    report.total_records = sum(counts.values())
    owned = [p for p in processed if p in placed.keys]
    if owned:
        groups = [owned]
        if schema_mode == "first_record" and owned[0] == processed[0]:
            # record 0 must come from the first processed file: it gets
            # its own frame at the head of the union
            groups = [owned[:1], owned[1:]]
        frames += [
            (rank[g[0]], _project(placed, g, text_parity)) for g in groups if g
        ]
    frames.sort(key=lambda rf: rf[0])

    df = None
    if frames:
        df = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), [f for _, f in frames]
        )
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
    line_delim = [p for p in paths if _logical_path(p).endswith((".jsonl", ".ndjson"))]
    whole_file = [p for p in paths if not _logical_path(p).endswith((".jsonl", ".ndjson"))]
    frames = []
    for group, multiline in ((whole_file, "true"), (line_delim, "false")):
        if group:
            frames.append(
                spark.read.option("multiLine", multiline)
                .option("allowSingleQuotes", "false")
                .option("mode", "DROPMALFORMED")
                .json(group)
            )
    df = frames[0]
    for f in frames[1:]:
        df = df.unionByName(f, allowMissingColumns=True)
    return with_lineage(df)


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
        return df.select([c for c in df.columns if c != SOURCE_COL])
    row = first[0].asDict()
    cols = [
        c for c in df.columns if c != SOURCE_COL and row.get(c) not in (None, "")
    ]
    if first_file is not None:
        try:
            if str(first_file).lower().endswith(".gz"):
                import gzip

                opener = lambda: gzip.open(  # noqa: E731
                    first_file, "rt", encoding=detect_encoding(first_file)
                )
            else:
                opener = lambda: open(  # noqa: E731
                    first_file, encoding=detect_encoding(first_file)
                )
            with opener() as fh:
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
    return df.select(*cols)


def unify_schema_sorted(df: DataFrame) -> DataFrame:
    """A11 parity: columns sorted alphabetically (reference
    `_infer_simple_schema`, `application.py:219`), `_source_file` kept
    last for readability parity with the lineage injection order."""
    cols = sorted(c for c in df.columns if c != SOURCE_COL)
    if SOURCE_COL in df.columns:
        cols.append(SOURCE_COL)
    return df.select(*cols)


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
