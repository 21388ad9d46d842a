"""CSV ingestion with duva's exact semantics, distributed.

Reference behavior being reproduced (file:line in /root/reference):
- null markers: ``pd.read_csv(na_values=["n/a", ""])`` — empty string and
  literal "n/a" become NULL (app/core/importer.py:61);
- schema inference: pandas ``convert_dtypes`` then dtype-kind → Hyper type
  with exactly three physical types — BIG_INT (kind i), DOUBLE (kind f),
  TEXT (all else) (app/core/importer.py:38-51);
- the XLSForm-declared mapping integer→big_int, decimal→double, text→text
  (app/utils/hyper_utils.py:40-46) for schema-first ingestion;
- empty input aborts the import (EmptyDataError,
  app/core/importer.py:236-240).

Differences by design (Spark-first, not a port):
- no triple materialization (duva: CSV → pandas → rewritten CSV → COPY;
  here: one distributed read, importer.py:61-73 vs df = read.csv);
- `read_csv_duva` infers with Spark's own CSV inference over the whole
  file, not a driver-side pandas load: one full scan to infer, one to
  check for empty input, then the caller's scan;
- `read_csv_sampled` is the one-scan variant the sync path uses: it infers
  a candidate schema from the header and the first ``SAMPLE_ROWS`` lines
  only, and the scan that commits the data also checks the candidate
  (see its docstring for why that check is exact). The scan stops at the
  first row that fails the check, and the caller falls back to
  `read_csv_duva`;
- `widen_types=True` additionally infers boolean/date/timestamp (types
  Hyper supports but duva's mapping collapses to TEXT).
"""

from __future__ import annotations

import os
import re
import tempfile
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, DataFrameReader, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DUVA_NULL_MARKERS = ("n/a", "")
#: Data lines after the header that seed `read_csv_sampled`'s candidate schema.
SAMPLE_ROWS = 1000
#: Spark's corrupt-record column in a sampled read; prefixed with "_"
#: until it differs from every header name.
MALFORMED_COLUMN = "_duva_malformed"
#: A sample line longer than this ends the sample (no partial line is kept).
_MAX_SAMPLE_LINE = 1 << 20
#: The characters Scala's ``String.trim`` strips, as bytes.
_BLANK = bytes(range(33))
#: Line ends as Hadoop's line reader knows them.
_EOL = re.compile(rb"\r\n|\r|\n")


class EmptyInputError(ValueError):
    """Raised for header-only/empty CSV (mirrors duva's EmptyDataError
    abort, app/core/importer.py:236-240)."""


#: XLSForm question type → Spark type (app/utils/hyper_utils.py:40-46).
XLSFORM_TYPE_MAP: dict[str, T.DataType] = {
    "integer": T.LongType(),
    "decimal": T.DoubleType(),
    "text": T.StringType(),
    # widened beyond the reference's 3-type universe:
    "date": T.DateType(),
    "dateTime": T.TimestampType(),
    "select one": T.StringType(),
    "select all that apply": T.StringType(),
}


def _collapse_to_duva_types(schema: T.StructType) -> T.StructType:
    """Collapse an inferred schema to duva's 3-type universe: integral →
    BIG_INT(Long), fractional → DOUBLE, everything else → TEXT(String)."""
    fields = []
    for f in schema.fields:
        if isinstance(f.dataType, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            dt: T.DataType = T.LongType()
        elif isinstance(f.dataType, (T.FloatType, T.DoubleType, T.DecimalType)):
            dt = T.DoubleType()
        else:
            dt = T.StringType()
        fields.append(T.StructField(f.name, dt, True))
    return T.StructType(fields)


def _reader(spark: SparkSession) -> DataFrameReader:
    """Header row required; "n/a" and "" → NULL (importer.py:61)."""
    return spark.read.option("header", True).option("nullValue", "n/a").option("emptyValue", None)


def _infer(spark: SparkSession, path: str, widen_types: bool) -> T.StructType:
    inferred = _reader(spark).option("inferSchema", True).csv(path).schema
    return inferred if widen_types else _collapse_to_duva_types(inferred)


def infer_csv_schema(
    spark: SparkSession, path: str, widen_types: bool = False, sample_rows: int | None = None
) -> T.StructType:
    """Spark's CSV inference over `path`, collapsed to BIG_INT/DOUBLE/TEXT
    unless `widen_types`.

    With `sample_rows`, it reads only the header and the next
    `sample_rows` data lines of the local file `path`, from a copy of
    them (two tiny inference jobs), and one more tiny job types a column
    without a value there as NullType: the sample cannot tell its type.
    """
    if sample_rows is not None:
        return _infer_sample(spark, path, sample_rows, widen_types)
    return _infer(spark, path, widen_types)


def read_csv_duva(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    widen_types: bool = False,
    observation: Observation | None = None,
) -> DataFrame:
    """Read a CSV the way duva ingests an OnaData export.

    - header row required;
    - "n/a" and "" → NULL (importer.py:61);
    - schema: explicit (form-metadata-driven) if given, else inferred and
      collapsed to the BIG_INT/DOUBLE/TEXT universe;
    - empty input (no data rows) raises EmptyInputError.

    With `observation`, `schema` is a candidate to check, and no job runs
    here: the frame is read with Spark's corrupt-record column, a NullType
    column of `schema` as TEXT, and the first action's scan either fails
    with `SAMPLE_MISMATCH` or counts the rows into `observation` (see
    `read_csv_sampled`).
    """
    if schema is None:
        schema = infer_csv_schema(spark, path, widen_types)
    if observation is not None:
        return _observed_read(spark, path, schema, observation)
    df = _reader(spark).schema(schema).csv(path)
    if not df.columns or df.isEmpty():
        raise EmptyInputError(f"empty CSV import aborted: {path}")
    return df


def _quoted(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _col(name: str) -> Column:
    return F.col(_quoted(name))


def _lines(src):
    """The lines of binary file `src` as Hadoop's line reader splits them:
    at \\n, \\r or \\r\\n (a \\r\\n torn between two blocks yields an extra
    empty line, which the sample skips as blank). Stops at a line longer
    than ``_MAX_SAMPLE_LINE`` without yielding it."""
    tail = b""
    while True:
        block = src.read(1 << 16)
        if not block:
            if tail:
                yield tail
            return
        *lines, tail = _EOL.split(tail + block)
        yield from lines
        if len(tail) > _MAX_SAMPLE_LINE:
            return


def _write_sample(path: str, dst, rows: int) -> None:
    """Copy the header and the next `rows` data lines of `path` to `dst`,
    as Spark's inference sees them: a leading UTF-8 BOM is dropped, the
    header is the first line that is not all spaces (inference finds it
    with SQL ``trim``), and after it lines that are blank (Scala ``trim``)
    or repeat the header are skipped. Raw bytes, whole lines only."""
    header, kept = None, 0
    with open(path, "rb") as src:
        if src.read(3) != b"\xef\xbb\xbf":
            src.seek(0)
        for line in _lines(src):
            if header is None:
                if line.strip(b" "):
                    header = line
                    dst.write(line + b"\n")
            elif line.strip(_BLANK) and line != header:
                dst.write(line + b"\n")
                kept += 1
                if kept == rows:
                    return


def _null_columns(spark: SparkSession, path: str, schema: T.StructType) -> set[int]:
    """Indexes of the TEXT columns of `schema` without a value in `path`,
    read as all TEXT. The sample is tiny: one partition makes the count a
    single-stage job."""
    text = [i for i, f in enumerate(schema.fields) if f.dataType == T.StringType()]
    if not text:
        return set()
    strings = T.StructType([T.StructField(f.name, T.StringType()) for f in schema])
    df = _reader(spark).schema(strings).csv(path).coalesce(1)
    counts = df.agg(*[F.count(_col(schema.fields[i].name)) for i in text]).first()
    return {i for i, n in zip(text, counts) if n == 0}


def _infer_sample(spark: SparkSession, path: str, rows: int, widen_types: bool) -> T.StructType:
    # Spark infers a file in about a fifth of the time it takes over an
    # RDD of the same lines. The copy sits next to `path`, so Spark reads
    # it wherever it can read `path` (Spark skips "."-files even by name).
    fd, sample = tempfile.mkstemp(
        prefix="duva-sample-", suffix=".csv", dir=os.path.dirname(os.path.abspath(path))
    )
    try:
        with os.fdopen(fd, "wb") as dst:
            _write_sample(path, dst, rows)
        schema = _infer(spark, sample, widen_types)
        null = _null_columns(spark, sample, schema)
    finally:
        os.remove(sample)
    return T.StructType(
        [
            T.StructField(f.name, T.NullType(), True) if i in null else f
            for i, f in enumerate(schema.fields)
        ]
    )


#: A superset of the tokens any of Spark's CSV number parsers accepts
#: (``Long.parseLong``, ``Double.parseDouble``, the decimal inference on
#: the token without its ","s, the NaN/Inf options), matched after ","
#: are removed.
_NUMBER_LIKE = (
    r"^[\x00-\x20]*[+-]?(NaN|Inf(inity)?"
    r"|0[xX][0-9a-fA-F]*\.?[0-9a-fA-F]*([pP][+-]?[0-9]*)?[fFdD]?"
    r"|\p{Nd}*\.?\p{Nd}*([eE][+-]?\p{Nd}*)?[fFdD]?)[\x00-\x20]*$"
)
#: The error a sampled read raises in the scan that finds its candidate
#: schema wrong.
SAMPLE_MISMATCH = "duva: the sampled CSV schema does not hold for the whole export"


def sample_mismatch(exc: BaseException) -> bool:
    """Whether `exc` is the failure of a scan that found a sampled read's
    candidate schema wrong (see `read_csv_sampled`)."""
    return SAMPLE_MISMATCH in str(exc)


@dataclass
class SampledRead:
    """The export typed by a candidate schema, and what its commit scan
    observes (see `read_csv_sampled`)."""

    df: DataFrame
    observation: Observation

    def verdict(self) -> str:
        """After an action on `df` (or on a frame built from it) that did
        not raise `SAMPLE_MISMATCH`: ``"ok"`` when the candidate is the
        exact schema, ``"empty"`` when the export has no data rows, and
        ``"unverified"`` when the action's plan dropped the observed
        scan."""
        if self.observation._jo.getRow().length() == 0:
            return "unverified"  # e.g. a shape that discards its input
        return "empty" if self.observation.get["rows"] == 0 else "ok"


def read_csv_sampled(spark: SparkSession, path: str) -> SampledRead | None:
    """`read_csv_duva(spark, path)` in one scan of `path`, checked by it.

    Spark's CSV inference runs on the header plus the first ``SAMPLE_ROWS``
    lines, collapsed to BIG_INT/DOUBLE/TEXT (`infer_csv_schema` with
    ``sample_rows``), and the export is read with that candidate plus
    Spark's corrupt-record column. The first action's scan checks the
    candidate: it fails with `SAMPLE_MISMATCH` (`sample_mismatch`) at the
    first row that shows the candidate wrong, and otherwise counts the
    rows for `SampledRead.verdict`. Only on ``"ok"`` is the frame
    `read_csv_duva`'s result. Why the check is exact:

    - TEXT from the sample is final: the inference merge never leaves it.
    - A BIG_INT or DOUBLE candidate column is converted by the reader's
      own ``toLong``/``toDouble``. A value either converts, or fails and
      marks its row malformed. Inference accepts exactly the same values
      for those types, so no malformed row means the whole-file merge
      stays BIG_INT (resp. DOUBLE: the sample already holds a value that
      is not BIG_INT).
    - A column null throughout the sample is read as TEXT, which is what
      inference gives a column that stays null, or that holds a value no
      number parser accepts; a value that may be a number fails the check.
    - Ragged rows and data rows equal to the header (which inference
      skips) are malformed as soon as a column is numeric; in a TEXT
      column such a row cannot change the type.

    The check sees the rows the first action reads, so that action must
    read all of them: a ``limit`` or ``sample`` on top leaves rows
    unchecked. `path` must be a local file. Returns None when the sample
    has no header: empty input, for `read_csv_duva` to judge.
    """
    candidate = infer_csv_schema(spark, path, sample_rows=SAMPLE_ROWS)
    if not candidate.fields:
        return None
    obs = Observation()
    return SampledRead(read_csv_duva(spark, path, candidate, observation=obs), obs)


def _observed_read(
    spark: SparkSession, path: str, schema: T.StructType, observation: Observation
) -> DataFrame:
    names = schema.names
    taken = {n.lower() for n in names}
    marker = MALFORMED_COLUMN
    while marker.lower() in taken:
        marker = "_" + marker
    read = [
        T.StructField(f.name, T.StringType(), True) if f.dataType == T.NullType() else f
        for f in schema.fields
    ]
    df = (
        _reader(spark)
        .option("columnNameOfCorruptRecord", marker)
        .schema(T.StructType([*read, T.StructField(marker, T.StringType())]))
        .csv(path)
    )
    late = [_col(f.name) for f in schema.fields if f.dataType == T.NullType()]
    wrong = _col(marker).isNotNull()
    for c in late:
        wrong = wrong | F.regexp_replace(c, ",", "").rlike(_NUMBER_LIKE)
    # References every column, so the scan converts (and checks) each one
    # even when the caller's shape prunes some. One SQL string: building
    # it column by column costs a round trip to the JVM per call.
    touch = ", ".join(f"if({_quoted(c)} is null, null, 1)" for c in names)
    observed = df.observe(
        observation,
        F.count(F.lit(1)).alias("rows"),
        F.max(F.when(wrong, F.raise_error(F.lit(SAMPLE_MISMATCH)))).alias("check"),
        F.expr(f"count(coalesce({touch}))").alias("nonblank"),
    )
    return observed.drop(marker)


def schema_from_form(form_fields: list[dict]) -> T.StructType:
    """Build a schema from XLSForm metadata (name/type dicts), the
    schema-first path the reference deprecated but intended
    (app/utils/hyper_utils.py:40-46)."""
    return T.StructType(
        [
            T.StructField(f["name"], XLSFORM_TYPE_MAP.get(f["type"], T.StringType()), True)
            for f in form_fields
        ]
    )
