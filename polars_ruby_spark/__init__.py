"""polars_ruby_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of ankane/polars-ruby.

NOT a port: the reference's Rust execution engine is replaced by Spark
(DataFrame API / Catalyst / Tungsten / AQE); this package is the API-shape
layer (SURVEY §3: "our Rb-wrapper-layer equivalent is the API-shape layer").

    import polars_ruby_spark as pl

    lf = pl.scan_parquet(".../lineitem.parquet")
    out = (lf.filter(pl.col("l_shipdate") <= pl.lit("1998-09-02").cast("datetime"))
             .group_by("l_returnflag", "l_linestatus")
             .agg(pl.col("l_quantity").sum().alias("sum_qty"))
             .sort("l_returnflag")
             .collect())
"""

from __future__ import annotations

from . import datatypes
from .exceptions import (
    ComputeError, Error, InvalidAssert, InvalidOperationError, NoRowsReturned,
    RowsException, SchemaError, TooManyRowsReturned, Todo,
)
from .datatypes import (
    Array, Binary, Boolean, Categorical, DataType, Date, Datetime, Decimal,
    Duration, Enum, Field, Float32, Float64, Int8, Int16, Int32, Int64, List,
    Null, Object, String, Struct, Time, UInt8, UInt16, UInt32, UInt64, Unknown,
    Utf8,
)
from .exprs import Expr, all_, col, cols, element, lit, when
from .frame import DataFrame, LazyFrame
from .functions import (
    all_horizontal, any_horizontal, arctan2, arg_sort_by, coalesce, concat_list, concat_str,
    corr, cov, cum_fold, cum_sum_horizontal, date_range, datetime_range, fold,
    format, int_range, max_horizontal, mean_horizontal, min_horizontal, repeat,
    sql_expr, struct, sum_horizontal,
)
from .functions import count, first, last, len, max, mean, min, sum  # noqa: A004
from .functions import (
    approx_n_unique, arange, arctan2d, arg_where, cum_count, cum_sum, date_ranges,
    datetime_ranges, duration, exclude, from_epoch, get_dummies, groups,
    implode, median, n_unique, ones, pearson_corr, quantile, select,
    set_random_seed, spearman_rank_corr, std, time_range, time_ranges,
    to_list, var, zeros,
)
from .functions import any, head, tail  # noqa: A004
from .config import (
    Config, StringCache, disable_string_cache, enable_string_cache,
    using_string_cache,
)
from .series import Series
from .session import configure, get_spark
from .sources import (
    BatchedCsvReader, from_arrow, from_hash, from_pandas, from_records,
    read_avro, read_csv, read_csv_batched, read_database, read_ipc,
    read_ipc_schema, read_ipc_stream, read_json, scan_ipc,
    read_ndjson, read_parquet, read_parquet_schema, scan_csv, scan_ndjson,
    scan_parquet, scan_table, write_bucketed,
)
from .sql_context import SQLContext
from ._worker_zip import install as _install_worker_zip

# every engine kernel imports this package when a worker unpickles it
_install_worker_zip()

# `all` as the wildcard fn (Polars.all) while keeping builtins importable
all = all_  # noqa: A001


def concat(items, how: str = "vertical", rechunk: bool = False, parallel: bool = True):
    """functions/eager.rb:35 — vertical / diagonal / horizontal concat.
    A list of Series concatenates vertically back into one Series."""
    items = list(items)
    if not items:
        raise ValueError("concat needs at least one frame")
    # NB: builtins.all — this module rebinds `all` to the polars selector
    import builtins

    if builtins.all(isinstance(s, Series) for s in items):
        out = Series._from_spark(items[0]._sdf, items[0].name)
        for s in items[1:]:
            out = out.append(s)
        return out
    eager = isinstance(items[0], DataFrame)
    if how in ("vertical", "vertical_relaxed"):
        sdf = items[0].to_spark()
        for f in items[1:]:
            sdf = sdf.unionByName(f.to_spark())
    elif how in ("diagonal", "diagonal_relaxed"):
        sdf = items[0].to_spark()
        for f in items[1:]:
            sdf = sdf.unionByName(f.to_spark(), allowMissingColumns=True)
    elif how == "horizontal":
        from .operators.reshape import hstack

        out = items[0]
        if not isinstance(out, DataFrame):
            out = DataFrame(out._sdf)
        for f in items[1:]:
            out = hstack(out, f if isinstance(f, DataFrame) else DataFrame(f._sdf))
        return out
    else:
        raise ValueError(f"unknown concat how={how!r}")
    return DataFrame(sdf) if eager else LazyFrame(sdf)


def align_frames(*frames, on):
    """functions/eager.rb:144 — align frames on key via full outer joins."""
    on = [on] if isinstance(on, str) else list(on)
    keys = None
    for f in frames:
        k = f.to_spark().select(*on).distinct()
        keys = k if keys is None else keys.union(k).distinct()
    out = []
    for f in frames:
        sdf = keys.join(f.to_spark(), on=on, how="left").orderBy(*on)
        out.append(DataFrame(sdf) if isinstance(f, DataFrame) else LazyFrame(sdf))
    return out


def collect_all(lazy_frames):
    """functions/lazy.rb:1016 — execute a batch of plans; Spark's
    ReuseExchange/ReuseSubquery dedupe shared subplans at the physical level
    (the reference's comm_subplan_elim, SURVEY §4.1)."""
    return [DataFrame(lf._sdf) for lf in lazy_frames]


__version__ = "0.1.0"
