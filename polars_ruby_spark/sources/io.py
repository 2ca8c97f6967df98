"""Readers/scanners (parity: /root/reference/lib/polars/io/*.rb).

``scan_*`` and ``read_*`` both return lazy plans (Spark reads are lazy);
``read_*`` returns the eager DataFrame wrapper for API parity
(``io/parquet.rb:38`` vs ``:163``).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import SparkSession

from ..datatypes import to_spark_type
from ..session import get_spark


def _spark(spark: SparkSession | None = None) -> SparkSession:
    return spark or get_spark()


def _schema_arg(schema):
    if schema is None:
        return None
    if isinstance(schema, dict):
        from pyspark.sql import types as T

        return T.StructType([T.StructField(k, to_spark_type(v)) for k, v in schema.items()])
    return schema


def _footer_file(source) -> tuple[str | None, bool]:
    """The parquet file whose footer describes ``source`` (a file, a
    directory of ``*.parquet`` files or a glob; the first in sorted order),
    and whether that one footer gives Spark's WHOLE schema.  It does not
    when ``source`` holds subdirectories or ``key=value`` path segments
    (hive partitioning adds columns no footer carries), or files Spark
    reads that the ``*.parquet`` probe skips."""
    import glob as _glob
    import os as _os

    path = str(source)
    whole = "=" not in path
    if _os.path.isdir(path):
        names = [n for n in _os.listdir(path) if not n.startswith(("_", "."))]
        whole = whole and all(
            n.endswith(".parquet") and _os.path.isfile(_os.path.join(path, n))
            for n in names)
        files = sorted(_os.path.join(path, n) for n in names
                       if n.endswith(".parquet"))
    elif any(ch in path for ch in "*?["):
        files = sorted(_glob.glob(path))
        whole = whole and all(_os.path.isfile(f) and "=" not in f
                              for f in files)
    else:
        files = [path]
    return (files[0] if files else None), whole


def _open_footer(probe: str | None):
    if probe is None:
        return None
    try:
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(probe)
        pf.schema_arrow         # parses the stored arrow schema, if any
        return pf
    except Exception:
        return None


def _physical_types(pf) -> dict[str, str]:
    """Parquet physical type per column path (a top-level column's path is
    its name)."""
    cols = (pf.schema.column(i) for i in range(len(pf.schema)))
    return {c.path: c.physical_type for c in cols}


def _ns_cols_of(pf) -> list[str]:
    # physical schema check: INT96 timestamps (Spark's own default output)
    # also surface as timestamp[ns] in arrow but Spark reads them natively
    # — only INT64/TIMESTAMP(NANOS) columns need the long+cast workaround
    phys = _physical_types(pf)
    return [f.name for f in pf.schema_arrow
            if str(f.type) == "timestamp[ns]" and phys.get(f.name) == "INT64"]


def _ns_timestamp_cols(source) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark 4 refuses them
    unless read as Long (spark.sql.legacy.parquet.nanosAsLong); we then cast
    ns→µs ourselves (polars Datetime('ns') → Spark µs, SURVEY §1.3)."""
    pf = _open_footer(_footer_file(source)[0])
    return _ns_cols_of(pf) if pf is not None else []


def _arrow_to_spark(t, phys: str | None, ntz: bool):
    """Spark's parquet type for arrow type ``t`` (``phys``: the parquet
    physical type of a top-level column, None when nested).  Raises
    ValueError where the arrow type does not pin Spark's choice."""
    import pyarrow.types as pat
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import from_arrow_type

    if pat.is_timestamp(t):
        if phys is None:
            raise ValueError("nested timestamp")
        if phys == "INT96" or t.tz is not None:
            return T.TimestampType()
        if t.unit == "ns":
            return T.LongType()         # nanosAsLong; scan_parquet casts
        # Spark reads a tz-naive (isAdjustedToUTC=false) timestamp as NTZ;
        # the arrow mapping would say TimestampType
        return T.TimestampNTZType() if ntz else T.TimestampType()
    if pat.is_dictionary(t):
        return _arrow_to_spark(t.value_type, phys, ntz)
    if pat.is_list(t) or pat.is_large_list(t):
        return T.ArrayType(_arrow_to_spark(t.value_type, None, ntz), True)
    if pat.is_struct(t):
        return T.StructType([T.StructField(f.name, _arrow_to_spark(
            f.type, None, ntz), True) for f in t])
    if pat.is_map(t):
        return T.MapType(_arrow_to_spark(t.key_type, None, ntz),
                         _arrow_to_spark(t.item_type, None, ntz), True)
    if (pat.is_boolean(t) or pat.is_signed_integer(t) or pat.is_float32(t)
            or pat.is_float64(t) or pat.is_string(t)
            or pat.is_large_string(t) or pat.is_date32(t)
            or pat.is_decimal128(t)):
        return from_arrow_type(t)
    # unsigned ints, binary (spark.sql.parquet.binaryAsString), durations,
    # times, float16, nulls: parquet and arrow disagree or a conf decides
    raise ValueError(f"no footer mapping for {t}")


def _footer_schema(pf, spark: SparkSession):
    """Spark's inferred schema, rebuilt from an opened pyarrow footer so the
    read skips Spark's schema-inference job; None where Spark must infer
    (files Spark wrote carry their own schema metadata, or a type has no
    unambiguous mapping).  Every field is nullable, as Spark makes every
    file-source field."""
    import pyarrow.types as pat
    from pyspark.sql import types as T

    if b"org.apache.spark.sql.parquet.row.metadata" in (
            pf.metadata.metadata or {}):
        return None
    phys = _physical_types(pf)
    ntz = True
    if any(pat.is_timestamp(f.type) and f.type.tz is None
           for f in pf.schema_arrow):
        ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled",
                             "true").lower() == "true"
    try:
        return T.StructType([
            T.StructField(f.name, _arrow_to_spark(f.type, phys.get(f.name),
                                                  ntz), True)
            for f in pf.schema_arrow])
    except ValueError:
        return None


def scan_parquet(source, hive_partitioning: bool = True, n_rows: int | None = None,
                 row_index_name: str | None = None, spark=None, **kw):
    """io/parquet.rb:163 — lazy parquet scan; stats pruning / hive partitions /
    globs are Spark-native.  The schema comes from the footer pyarrow
    already opens (no Spark inference job) wherever one footer gives it;
    hive directories and unreadable footers keep Spark's inference."""
    from pyspark.sql import functions as F

    from ..frame import LazyFrame
    from ..operators.row_index import with_row_index

    s = _spark(spark)
    source = _materialize_source(source, ".parquet")
    probe, whole = _footer_file(source)
    pf = _open_footer(probe)
    ns_cols = _ns_cols_of(pf) if pf is not None else []
    if ns_cols:
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = _footer_schema(pf, s) if pf is not None and whole else None
    reader = s.read if schema is None else s.read.schema(schema)
    sdf = reader.parquet(str(source))
    for c in ns_cols:
        # integer `div` keeps full precision (double division would lose
        # sub-µs bits on ~1e18 nanosecond epochs)
        sdf = sdf.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    if n_rows is not None:
        sdf = sdf.limit(n_rows)
    if row_index_name:
        sdf = with_row_index(sdf, row_index_name)
    return LazyFrame(sdf)


def read_parquet(source, n_rows: int | None = None, row_index_name: str | None = None,
                 columns=None, spark=None, **kw):
    """io/parquet.rb:38 — eager parquet read."""
    from ..frame import DataFrame

    lf = scan_parquet(source, n_rows=n_rows, row_index_name=row_index_name, spark=spark)
    if columns:
        lf = lf.select(*columns)
    return DataFrame(lf._sdf)


def read_parquet_schema(source, spark=None) -> dict:
    """io/parquet.rb:127 — schema without reading data."""
    sdf = _spark(spark).read.parquet(str(source))
    return {f.name: f.dataType for f in sdf.schema.fields}




#: temp files spooled for IO-object sources; lazy scans reference the path
#: until materialized, so lifetime is process-long — reaped at exit.
_SPOOLED_PATHS: list[str] = []


def _reap_spooled() -> None:
    import os

    while _SPOOLED_PATHS:
        p = _SPOOLED_PATHS.pop()
        try:
            os.unlink(p)
        except OSError:
            pass


def _materialize_source(source, suffix: str):
    """The reference's readers accept paths, Pathname, AND IO objects
    (csv_test.rb/json_test.rb StringIO cases) — spool file-likes to a temp
    file for Spark's path-based readers.  Remote URLs must be passed as
    URI objects in the reference; plain http(s) strings raise.

    Spooled files must outlive any LazyFrame scanning them, so they are
    tracked in ``_SPOOLED_PATHS`` and deleted atexit (ADVICE r2 leak fix)."""
    if hasattr(source, "read"):
        import atexit
        import tempfile

        data = source.read()
        if isinstance(data, str):
            data = data.encode()
        f = tempfile.NamedTemporaryFile(suffix=suffix, delete=False)
        f.write(data)
        f.close()
        if not _SPOOLED_PATHS:
            atexit.register(_reap_spooled)
        _SPOOLED_PATHS.append(f.name)
        return f.name
    s = str(source)
    if s.startswith(("http://", "https://")):
        raise ValueError("use URI(...) for remote files")
    return s


def scan_csv(source, has_header: bool = True, separator: str = ",", comment_prefix=None,
             quote_char: str = '"', skip_rows: int = 0, schema=None, dtypes=None,
             null_values=None, try_parse_dates: bool = False, n_rows=None,
             infer_schema_length: int | None = 100, encoding: str = "utf8",
             truncate_ragged_lines: bool = False, row_index_name=None, spark=None, **kw):
    """io/csv.rb:557 — lazy CSV scan; option mapping per SURVEY §2.1."""
    from ..frame import LazyFrame
    from ..operators.row_index import with_row_index

    reader = _spark(spark).read.options(
        header=has_header,
        sep=separator,
        quote=quote_char,
        inferSchema=schema is None and dtypes is None and infer_schema_length is not None,
        mode="PERMISSIVE" if truncate_ragged_lines else "PERMISSIVE",
    )
    if comment_prefix:
        reader = reader.option("comment", comment_prefix)
    if null_values:
        nv = null_values if isinstance(null_values, str) else (
            null_values[0] if isinstance(null_values, list) else None)
        if nv is not None:
            reader = reader.option("nullValue", nv)
    if try_parse_dates:
        reader = reader.option("inferSchema", True).option(
            "timestampFormat", "yyyy-MM-dd HH:mm:ss")
    sch = _schema_arg(schema or dtypes)
    if sch is not None:
        reader = reader.schema(sch)
    sdf = reader.csv(_materialize_source(source, ".csv"))
    if not has_header:
        # polars names headerless columns column_1.. (csv_test.rb)
        sdf = sdf.toDF(*[f"column_{i + 1}" for i in range(len(sdf.columns))])
    if skip_rows:
        from ..operators.row_index import with_row_index as _wri
        from pyspark.sql import functions as F

        sdf = _wri(sdf, "__skip__").filter(F.col("__skip__") >= skip_rows).drop("__skip__")
    if n_rows is not None:
        sdf = sdf.limit(n_rows)
    if row_index_name:
        sdf = with_row_index(sdf, row_index_name)
    return LazyFrame(sdf)


def read_csv(source, **kw):
    """io/csv.rb:93 — eager CSV read."""
    from ..frame import DataFrame

    return DataFrame(scan_csv(source, **kw)._sdf)


class BatchedCsvReader:
    """batched_csv_reader.rb:6 — lazily yields DataFrames of ``batch_size``
    rows each via ``next_batches(n)`` (nil/None when exhausted, matching
    the reference).

    Spark-first shape: the CSV is scanned ONCE, row-indexed with the
    two-pass partition-prefix machinery (no global window), and cached;
    each batch is a row-range filter over the cached frame — no driver
    collect, batches stay distributed DataFrames."""

    def __init__(self, source, batch_size: int = 50_000, **kw):
        from pyspark.sql import functions as F

        from ..operators.row_index import with_row_index

        lf = scan_csv(source, **kw)
        self._sdf = with_row_index(lf._sdf, "__batch_rix__").cache()
        self._F = F
        self._batch_size = int(batch_size)
        self._pos = 0
        self._total = None

    def next_batches(self, n: int):
        from ..frame import DataFrame

        if self._total is None:
            self._total = self._sdf.count()  # materializes the cache
        out = []
        for _ in range(n):
            if self._pos >= self._total:
                break
            lo, hi = self._pos, self._pos + self._batch_size
            c = self._F.col("__batch_rix__")
            out.append(DataFrame(
                self._sdf.filter((c >= lo) & (c < hi)).drop("__batch_rix__")))
            self._pos = hi
        return out or None


def read_csv_batched(source, batch_size: int = 50_000, **kw):
    """io/csv.rb:407 — returns a BatchedCsvReader."""
    return BatchedCsvReader(source, batch_size=batch_size, **kw)


def read_json(source, spark=None, **kw):
    """io/json.rb:9 — JSON array-of-records (multiLine)."""
    from ..frame import DataFrame

    return DataFrame(_spark(spark).read.option("multiLine", True).json(
        _materialize_source(source, ".json")))


def scan_ndjson(source, spark=None, **kw):
    """io/ndjson.rb:53 — newline-delimited JSON (Spark-native format)."""
    from ..frame import LazyFrame

    return LazyFrame(_spark(spark).read.json(
        _materialize_source(source, ".ndjson")))


def read_ndjson(source, **kw):
    from ..frame import DataFrame

    return DataFrame(scan_ndjson(source, **kw)._sdf)


def read_avro(source, spark=None, **kw):
    """io/avro.rb:14 — Avro Object Container Files via the pure-Python
    codec (``sources/avro_codec.py``; this distribution bundles no
    spark-avro connector jar and the environment is offline).

    Distributed per FILE: the driver parses only the first header for the
    schema; each container decodes inside an executor (binaryFile scan →
    ``mapInPandas``), so a directory of containers scales with file count
    (one huge single container is one task — the same bound the eager
    reference reader has).
    """
    import glob as _glob
    import os

    import pandas as _pd

    from ..frame import DataFrame
    from .avro_codec import avro_schema_to_spark, read_container, read_header

    sp = _spark(spark)
    src = _materialize_source(source, ".avro")
    paths = sorted(_glob.glob(src)) if any(ch in src for ch in "*?[") \
        else [src]
    first = paths[0]
    if os.path.isdir(first):
        cand = sorted(os.path.join(first, f) for f in os.listdir(first)
                      if not f.startswith(("_", ".")))
        first = cand[0]
    with open(first, "rb") as fh:
        head = fh.read()
    avro_schema, _codec, _sync, _pos = read_header(head)
    st = avro_schema_to_spark(avro_schema)
    names = [f.name for f in st.fields]
    bin_df = sp.read.format("binaryFile").load(src)

    def decode(batches):
        for pdf in batches:
            for content in pdf["content"]:
                _schema, rows = read_container(bytes(content))
                if rows:
                    cols = list(zip(*rows))
                    yield _pd.DataFrame(
                        {n: _pd.Series(c, dtype="object")
                         for n, c in zip(names, cols)})
                else:
                    yield _pd.DataFrame({n: _pd.Series([], dtype="object")
                                         for n in names})

    return DataFrame(bin_df.select("content").mapInPandas(decode, st))


def read_ipc(source, spark=None, **kw):
    """io/ipc.rb:27 — Arrow IPC via pyarrow → createDataFrame (no native src).

    Accepts a single ``.arrow`` file or a directory of ``part-*.arrow``
    files as produced by ``LazyFrame.sink_ipc``."""
    import os

    import pyarrow as pa
    import pyarrow.feather as feather

    from ..frame import DataFrame

    src = source if hasattr(source, "read") else str(source)
    if not hasattr(src, "read") and os.path.isdir(src):
        parts = sorted(
            os.path.join(src, f) for f in os.listdir(src) if f.endswith(".arrow"))
        table = pa.concat_tables([feather.read_table(p) for p in parts])
    else:
        table = feather.read_table(src)
    return DataFrame(_spark(spark).createDataFrame(table.to_pandas()))


def scan_ipc(source, spark=None, **kw):
    """io/ipc.rb:189 — lazy form of read_ipc (the pyarrow bridge is eager
    either way; kept for API parity)."""
    return read_ipc(source, spark=spark, **kw).lazy()


def read_ipc_schema(source, spark=None) -> dict:
    """io/ipc.rb:218 — schema without reading data."""
    import pyarrow.feather as feather
    from pyspark.sql.pandas.types import from_arrow_type

    src = source if hasattr(source, "read") else str(source)
    schema = feather.read_table(src).schema
    return {f.name: from_arrow_type(f.type) for f in schema}


def read_ipc_stream(source, spark=None, **kw):
    """io/ipc.rb:150 — Arrow STREAMING format (no footer), distinct from
    the random-access file format read_ipc handles."""
    import pyarrow.ipc as ipc

    from ..frame import DataFrame

    with ipc.open_stream(str(source)) as r:
        table = r.read_all()
    return DataFrame(_spark(spark).createDataFrame(table.to_pandas()))


def read_database(query: str, url: str | None = None, spark=None, **kw):
    """io/database.rb:12 — JDBC."""
    from ..frame import DataFrame

    reader = _spark(spark).read.format("jdbc").option("query", query)
    if url:
        reader = reader.option("url", url)
    for k, v in kw.items():
        reader = reader.option(k, v)
    return DataFrame(reader.load())


def from_pandas(pdf, spark=None):
    from ..frame import DataFrame

    return DataFrame(_spark(spark).createDataFrame(pdf))


def from_arrow(table, spark=None):
    return from_pandas(table.to_pandas(), spark)


def pylists_to_sdf(data: dict[str, list], schema=None, spark=None):
    """Build a Spark DF from python lists, Arrow-first: pyarrow inference
    preserves NaN as a float VALUE (Spark's pandas path nulls it) and keeps
    integer columns integral under nulls (pandas coerces to float64).
    Falls back to the pandas path for inputs Arrow can't infer."""
    import pyarrow as pa

    sch = _schema_arg(schema)
    try:
        table = pa.table({k: (v if isinstance(v, pa.Array) else pa.array(v))
                          for k, v in data.items()})
        return _spark(spark).createDataFrame(table, schema=sch)
    except Exception:
        import pandas as pd

        return _spark(spark).createDataFrame(pd.DataFrame(data), schema=sch)


def from_hash(data: dict[str, list], schema=None, spark=None):
    """convert.rb:29 — hash-of-arrays → frame.  Values may also be Series
    (data_frame_test.rb: the key names the column) or scalars (broadcast);
    mismatched column lengths raise like the reference."""
    from ..frame import DataFrame
    from ..series import Series

    for k in data:
        if not isinstance(k, str):
            raise TypeError(
                f"no implicit conversion of {type(k).__name__} into String")
    # Series values carry an exact dtype the list round-trip would lose
    # (u64 → Decimal(20,0) would re-infer as Decimal(1,0)); re-cast after
    from pyspark.sql import types as _T

    stypes = {k: v.dtype for k, v in data.items() if isinstance(v, Series)
              and not isinstance(v.dtype, _T.NullType)}
    data = {k: (v.to_a() if isinstance(v, Series)
                else list(v) if isinstance(v, (list, tuple, range)) else v)
            for k, v in data.items()}
    lengths = {k: len(v) for k, v in data.items() if isinstance(v, list)}
    if lengths:
        n = max(lengths.values())
        if any(l != n for l in lengths.values()):
            raise ValueError(
                "lengths don't match: could not create a DataFrame from "
                f"columns of unequal lengths {lengths}")
        data = {k: (v if isinstance(v, list) else [v] * n)
                for k, v in data.items()}
    else:
        data = {k: [v] for k, v in data.items()}
    sdf = pylists_to_sdf(data, schema, spark)
    if stypes and schema is None:
        sdf = sdf.select(*[
            sdf[c].cast(stypes[c]).alias(c)
            if c in stypes and sdf.schema[c].dataType != stypes[c]
            else sdf[c] for c in sdf.columns])
    return DataFrame(sdf)


def from_records(rows: list, schema=None, orient: str = "row", spark=None):
    from ..frame import DataFrame

    if rows and all(isinstance(r, dict) for r in rows):
        # Arrow-first (types_test.rb dtype matrix): handles all-null columns
        # (Null dtype), nested structs/lists, and NaN preservation — the
        # direct createDataFrame(rows) path fails type inference on these
        import pyarrow as pa

        try:
            table = pa.Table.from_pylist(rows)
            return DataFrame(_spark(spark).createDataFrame(
                table, schema=_schema_arg(schema)))
        except Exception:
            pass
    return DataFrame(_spark(spark).createDataFrame(rows, schema=_schema_arg(schema)))


def write_bucketed(frame, table: str, bucket_by, n_buckets: int = 32,
                   sort_by=None, mode: str = "overwrite", format: str = "parquet"):
    """Write as a bucketed (+ optionally sorted) table for co-located joins.

    Joining two tables bucketed on the same key with the same bucket count
    lets Catalyst plan a shuffle-FREE (and with sort_by, merge-ready) join —
    the 100 TB answer for repeated big-big joins on a stable key.  Bucketing
    requires the session catalog (``saveAsTable``), not a bare path.
    """
    bucket_by = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    sdf = frame.to_spark()
    if mode == "overwrite":
        s = sdf.sparkSession
        s.sql(f"DROP TABLE IF EXISTS {table}")
        # an in-memory metastore forgets tables across sessions but the
        # warehouse directory persists → LOCATION_ALREADY_EXISTS; clear it
        if "." not in table:
            import shutil
            from urllib.parse import urlparse

            wh = urlparse(s.conf.get("spark.sql.warehouse.dir")).path
            shutil.rmtree(f"{wh}/{table}", ignore_errors=True)
    writer = (sdf.write.format(format).mode(mode)
              .bucketBy(n_buckets, *bucket_by))
    if sort_by:
        sort_by = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)


def scan_table(table: str, spark=None):
    """Lazy scan of a catalog table (pairs with :func:`write_bucketed`)."""
    from ..frame import LazyFrame

    return LazyFrame(_spark(spark).table(table))
