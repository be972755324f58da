"""Row-normalization projections (SURVEY §2 A7-A8 + flatten mode).

The reference's only compute operator
(`src/processors/json_processor.py:35-104`) maps every record to a
flat all-text row: nested dict/list → JSON string, null → ``""``,
empty dict/array → ``""`` (falsy collapse), primitives pass through,
anything else → ``str()``.

Here that is ONE generated ``select`` projection — a narrow, codegen'd
map stage with no UDF and no shuffle, which is exactly what survives a
100 TB scan. Two modes:

- ``normalize_text_parity``: byte-faithful reference semantics
  (lossy — ``{}``/``[]``/null all collapse to ``""``).
- ``flatten_dot_paths``: lossless alternative from the reference's
  drifted tests (`tests/unit/test_json_processor.py:111-136`):
  nested structs expand to ``parent.child`` columns, arrays stay typed.

Note on JSON text form: Python ``json.dumps`` emits ``", "``/``": "``
separators, Spark ``to_json`` emits compact JSON. We standardize on the
compact form; parity tests compare parsed structures, not bytes
(SURVEY §7.4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def quote(name: str) -> str:
    """``name`` as a SQL identifier: backquoted, backticks doubled, so
    a dot in a JSON key is part of the name, not a struct path."""
    return "`" + name.replace("`", "``") + "`"


def column(name: str) -> Column:
    """The column named ``name``, read literally: a dot or backtick in
    a JSON key is part of the name, not a struct path."""
    return F.col(quote(name))


def _normalize_sql(name: str, dtype: T.DataType) -> str:
    """Reference normalization for one column, as a SQL expression."""
    q = quote(name)
    if isinstance(dtype, (T.StructType, T.ArrayType, T.MapType)):
        # falsy collapse: {} / [] / null → ""
        return (
            f"CASE WHEN {q} IS NULL OR to_json({q}) IN ('{{}}', '[]') THEN '' "
            f"ELSE to_json({q}) END"
        )
    if isinstance(dtype, T.StringType):
        return f"coalesce({q}, '')"
    # primitives (and exotica) → string, null → ""
    return f"coalesce(CAST({q} AS STRING), '')"


def normalize_text_parity(df: DataFrame, keep_columns: list[str] | None = None) -> DataFrame:
    """A7: the all-TEXT parity projection (single codegen'd select),
    one ``selectExpr`` of SQL expressions, parsed in the JVM."""
    cols = keep_columns or df.columns
    return df.selectExpr(
        *[f"{_normalize_sql(c, df.schema[c].dataType)} AS {quote(c)}" for c in cols]
    )


def drop_corrupt_records(df: DataFrame, corrupt_col: str = "_corrupt_record") -> DataFrame:
    """A8: drop non-record elements. With PERMISSIVE parsing, non-dict
    top-level array elements land in ``_corrupt_record`` with all data
    columns null (`json_processor.py:57-61` drops them silently)."""
    if corrupt_col not in df.columns:
        return df
    return df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)


def flatten_dot_paths(df: DataFrame, sep: str = ".") -> DataFrame:
    """Recursive dot-path flattening (`user.name`-style columns), the
    semantics the reference's drifted tests expect of
    ``flatten_json_data``. Arrays are left intact (typed).

    Hostile-name safe: the reference path is built from the actual
    field parts (a field name CONTAINING a dot or backtick never
    corrupts the lookup), and generated names that collide — e.g. a
    literal ``a.b`` column next to struct ``a.b`` — are suffixed
    ``_2``, ``_3`` in schema order (duplicate output names would make
    every later select-by-name ambiguous)."""

    def quoted(parts: list[str]) -> str:
        return ".".join(map(quote, parts))

    def expand(parts: list[str], dtype: T.DataType) -> list[tuple[Column, str]]:
        if isinstance(dtype, T.StructType):
            out: list[tuple[Column, str]] = []
            for f_ in dtype.fields:
                out.extend(expand([*parts, f_.name], f_.dataType))
            return out
        return [(F.col(quoted(parts)), sep.join(parts))]

    named: list[tuple[Column, str]] = []
    for f_ in df.schema.fields:
        if isinstance(f_.dataType, T.StructType):
            named.extend(expand([f_.name], f_.dataType))
        else:
            # quoted([...]) here too: df["a.b"] / F.col("a.b") would
            # resolve the dot as struct access, not the literal name
            named.append((F.col(quoted([f_.name])), f_.name))
    counts: dict[str, int] = {}
    final: list[Column] = []
    for col, name in named:
        n = counts.get(name, 0)
        counts[name] = n + 1
        final.append(col.alias(name if n == 0 else f"{name}_{n + 1}"))
    return df.select(*final)
