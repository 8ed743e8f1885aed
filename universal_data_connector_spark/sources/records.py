"""File-mode -> record-mode promotion: CSV blobs to typed rows.

The single biggest semantic translation in the engine (SURVEY.md §1.5):
the reference's unit of data is a whole file; Spark's is a row. A
column-aware stage (filter-by-column, schema-bound parquet sink)
promotes a file-mode DataFrame (``source_file, file_type, content``)
to record-mode — one row per CSV record — entirely with JVM-side array
expressions (split/explode/map_from_arrays): no Python in the hot path,
so the promotion is a plain projection at any scale.

Reference behaviors reproduced (``factory/sink/ParquetSinkContext.java``
in ThatNinjaGuy/universal-data-connector):

* header -> field binding by case-insensitive trimmed name (`:251-270`)
  — here per-file (the reference caches the first file's mapping for
  all subsequent files; that mis-binds reordered headers and is
  documented as a non-reproduced bug, SURVEY.md §7.4.6);
* rows with fewer columns than the header are dropped (`:273-276`);
* rows whose every mapped value is null are dropped (`:308-313`);
* lenient per-type conversion with defaults (`:382-443`) via
  ``functions.casts``;
* quoted values are unquoted with ``""`` -> ``"`` (`:288-291`) — via a
  real RFC-4180 tokenizer, fixing the reference's naive ``split(",")``
  read path (divergence documented in SURVEY.md §7.4.2).

Known limitation (shared with the reference's line-based reader):
rows are split on newlines BEFORE tokenizing, so a quoted field that
embeds a newline (legal RFC 4180) is torn across pseudo-rows — the
fragment with the unbalanced quote parses as a bare field and the
remainder is dropped by the short-row rule. The reference's
BufferedReader.readLine() path has exactly this behavior; files with
embedded-newline fields need the record-mode CSV scan
(``spark.read.csv(multiLine=true)``) instead of file-mode promotion.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from universal_data_connector_spark.functions import casts as fc

# RFC-4180 field tokenizer: each field is either a quoted run (allowing
# escaped "" inside) or a bare run up to the next comma. The line is
# prefixed with ',' so every field match consumes its delimiter — an
# anchored `(?:^|,)` form matches the first empty field zero-width,
# after which the engine bumps past the real comma and silently drops
# the second field (found by the fuzz test against Python's csv module).
_CSV_FIELD_RE = r',("(?:[^"]|"")*"|[^,]*)'


def csv_fields(line: Column) -> Column:
    """Tokenize one CSV line into an array of unquoted field strings."""
    raw = F.regexp_extract_all(F.concat(F.lit(","), line),
                               F.lit(_CSV_FIELD_RE), 1)
    return F.transform(raw, _unquote)


def _unquote(v: Column) -> Column:
    quoted = v.startswith('"') & v.endswith('"') & (F.length(v) >= 2)
    inner = F.regexp_replace(F.substring(v, 2, F.length(v) - 2), '""', '"')
    return F.when(quoted, inner).otherwise(v)


def explode_csv_rows(df: DataFrame, content_col: str = "content") -> DataFrame:
    """One row per CSV data line, with a per-file header->value map.

    Output: ``source_file``, ``__line_no`` (1-based data-row index,
    preserves intra-file order), ``__line`` (the raw CSV line),
    ``__fields`` (map lower(header) -> raw string value).
    """
    # cast: directory-source frames carry BinaryType content; CSV
    # promotion decodes it as UTF-8 (no-op for string content)
    lines = F.split(F.col(content_col).cast("string"), "\r?\n")
    header = F.transform(csv_fields(F.element_at(lines, 1)),
                         lambda h: F.lower(F.trim(h)))
    data = F.slice(lines, 2, F.greatest(F.size(lines) - 1, F.lit(0)))
    out = (df.withColumn("__header", header)
             .select("source_file", "__header",
                     F.posexplode(data).alias("__pos", "__line")))
    vals = csv_fields(F.col("__line"))
    # Pad values to header length so map_from_arrays is total — its
    # evaluation must never depend on filter ordering (Catalyst may
    # push later predicates below this projection). The short-row drop
    # below is the *semantic* rule (:273-276), not a safety guard.
    hdr_size = F.size(F.col("__header"))
    padded = F.slice(F.concat(vals, F.array_repeat(F.lit(""), hdr_size)), 1, hdr_size)
    # Duplicate header names (e.g. 'id,ID,name' after lower/trim) bind
    # to their FIRST occurrence: a raw map_from_arrays would throw
    # DUPLICATED_MAP_KEY at runtime (default mapKeyDedupPolicy=
    # EXCEPTION) and fail the whole batch over one malformed file —
    # the reference binds one occurrence and continues.
    pos = F.when(hdr_size >= 1,
                 F.sequence(F.lit(1), hdr_size)
                 ).otherwise(F.array().cast("array<int>"))
    first = F.filter(pos, lambda i: F.array_position(
        F.col("__header"), F.element_at(F.col("__header"), i)) == i)
    keys = F.transform(first, lambda i: F.element_at(F.col("__header"), i))
    fvals = F.transform(first, lambda i: F.element_at(padded, i))
    return (out.filter(F.length(F.trim(F.col("__line"))) > 0)
               # fewer columns than the header -> dropped (:273-276)
               .filter(F.size(vals) >= hdr_size)
               .select("source_file",
                       (F.col("__pos") + 1).alias("__line_no"),
                       "__line",
                       F.map_from_arrays(keys, fvals).alias("__fields")))


_LENIENT = {
    T.StringType(): lambda c: c,
    T.IntegerType(): fc.lenient_int,
    T.LongType(): fc.lenient_long,
    T.FloatType(): lambda c: fc.lenient_currency_double(c).cast("float"),
    T.DoubleType(): fc.lenient_currency_double,
    T.BooleanType(): fc.lenient_bool,
}

_TYPE_NAMES = {
    T.StringType(): "string", T.IntegerType(): "int", T.LongType(): "bigint",
    T.FloatType(): "float", T.DoubleType(): "double", T.BooleanType(): "boolean",
}


def csv_blob_to_records(df: DataFrame, schema: T.StructType,
                        apply_defaults: bool = True) -> DataFrame:
    """Full record-mode promotion under a declared schema.

    Returns ``source_file`` + one typed column per schema field, with
    the reference's conversion semantics (lenient casts, all-null row
    drop, per-type defaults).
    """
    rows = explode_csv_rows(df)
    raw_cols = {f.name: F.col("__fields").getItem(f.name.lower()) for f in schema.fields}
    converted = {name: _LENIENT[schema[name].dataType](col)
                 for name, col in raw_cols.items()}
    out = rows.select(
        "source_file", "__line_no",
        *[conv.alias(name) for name, conv in converted.items()])
    # A row where every mapped value converted to null is dropped
    # (ParquetSinkContext.java:308-313).
    any_set = None
    for f in schema.fields:
        c = F.col(f.name).isNotNull()
        any_set = c if any_set is None else (any_set | c)
    if any_set is not None:
        out = out.filter(any_set)
    if apply_defaults:
        out = out.select(
            "source_file", "__line_no",
            *[fc.with_default(F.col(f.name), _TYPE_NAMES[f.dataType]).alias(f.name)
              for f in schema.fields])
    return out
