"""SparkSession bootstrap for the engine.

The reference (ankane/polars-ruby) runs a single-process Rust engine with a
rayon pool (``/root/reference/ext/polars/src/functions/meta.rs:14``
``threadpool_size``); our execution substrate is a Spark cluster.  This module
centralizes the session defaults that make Spark behave like the reference's
semantics contract:

- ANSI off: polars ``cast(strict: false)`` and arithmetic return null on
  error (``/root/reference/lib/polars/expr.rb:1234``); Spark 4 defaults ANSI
  on, so we disable it to get try_cast/null-on-overflow semantics.
- Session timezone UTC: polars datetimes are tz-naive-UTC by default.
- AQE on: runtime re-planning (skew joins, partition coalescing) is our
  answer to the reference's in-process morsel parallelism at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Hidden column used to materialize the reference's implicit row order
#: (see operators/row_index.py).
ROW_IDX = "__row_idx__"

#: ``{"functions": (jvm_view, JavaClass, {name: JavaMember})}`` — see
#: :func:`_install_jvm_function_cache`.
_JVM_FN_CACHE: dict = {}

#: Compiled generated classes Spark keeps per JVM (its default is 100); see
#: the generated-code cache note in :func:`configure`.
_CODEGEN_CACHE_ENTRIES = 2048


def _install_jvm_function_cache() -> None:
    """Memoize PySpark's per-call JVM reflection for ``F.*`` builtins.

    Every ``pyspark.sql.functions`` call resolves the static JVM function
    through ``_get_jvm_function``, which issues TWO py4j reflection
    round-trips (``JVMView.__getattr__`` for the ``functions`` class, then
    ``JavaClass.__getattr__`` for the member) before the actual call —
     3 round-trips per ``F.*`` invocation at ~0.1-1 ms each.  The resolved
    ``JavaMember`` for a static method is immutable per gateway (py4j itself
    caches instance members per ``JavaObject`` the same way), so both lookups
    are memoizable; the cache keys on the live ``sc._jvm`` identity so a
    SparkContext restart rebuilds it.  Measured: ~30% of the py4j traffic in
    an attach-family plan construct (q167: 237 ``F.*`` calls per build).
    """
    from pyspark.sql.functions import builtin as _builtin

    if getattr(_builtin._get_jvm_function, "_plsq_cached", False):
        return

    def _get_jvm_function(name, sc):
        jvm = sc._jvm
        entry = _JVM_FN_CACHE.get("functions")
        if entry is None or entry[0] is not jvm:
            fcls = getattr(jvm, "org.apache.spark.sql.functions")
            entry = (jvm, fcls, {})
            _JVM_FN_CACHE["functions"] = entry
        member = entry[2].get(name)
        if member is None:
            member = getattr(entry[1], name)
            entry[2][name] = member
        return member

    _get_jvm_function._plsq_cached = True
    _builtin._get_jvm_function = _get_jvm_function

    # Same story for the column-list → JVM Seq bridge: every ``_to_seq`` /
    # ``_to_list`` call re-resolves ``sc._jvm.PythonUtils.toSeq`` — a
    # JVMView reflection plus a JavaClass member reflection (2 round-trips)
    # before the conversion itself.  One attach-family construct makes ~70
    # such calls (every select/withColumns/join goes through it).  The
    # static JavaMember is immutable per gateway; memoize it the same way.
    from pyspark.sql.classic import column as _ccol

    def _utils_member(sc, name):
        jvm = sc._jvm
        entry = _JVM_FN_CACHE.get("pythonutils")
        if entry is None or entry[0] is not jvm:
            entry = (jvm, jvm.PythonUtils, {})
            _JVM_FN_CACHE["pythonutils"] = entry
        member = entry[2].get(name)
        if member is None:
            member = getattr(entry[1], name)
            entry[2][name] = member
        return member

    def _to_seq(sc, cols, converter=None):
        if converter:
            cols = [converter(c) for c in cols]
        else:
            cols = list(cols)
        return _utils_member(sc, "toSeq")(cols)

    def _to_list(sc, cols, converter=None):
        if converter:
            cols = [converter(c) for c in cols]
        else:
            cols = list(cols)
        return _utils_member(sc, "toList")(cols)

    _ccol._to_seq = _to_seq
    _ccol._to_list = _to_list
    # modules that imported the helpers by value before we patched
    from pyspark.sql.classic import dataframe as _cdf

    _cdf._to_seq = _to_seq
    _cdf._to_list = _to_list


def configure(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply engine defaults to an existing builder (idempotent)."""
    _install_jvm_function_cache()
    builder = (
        builder.config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # polars column names are case-sensitive ("A" and "a" coexist —
        # name.to_lowercase doctest); Spark's default folds them together
        .config("spark.sql.caseSensitive", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for the pandas boundary (map_rows / map_elements / exports).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4 captures the Python call site for every DataFrame/Column
        # API call to enrich error messages (SPARK-44098 dataFrameDebugging).
        # Each wrapped call pays ~3 py4j round-trips (getActiveSession +
        # conf.get + PySparkCurrentOrigin.set) plus a Python traceback walk
        # — measured 30-40% of plan-construction time on expression-heavy
        # operators (q107 2.55→1.84 s construct, q167 1.53→0.90 s).  The
        # engine's compiler issues tens of thousands of Column calls per
        # query, and its own errors carry operator context already, so the
        # call-site enrichment is pure driver overhead here.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # The JVM-side twin of the flag above (SPARK-47274): with
        # dataFrameQueryContext on (default), every Dataset/Column operation
        # captures an Origin with a walked stack trace for error enrichment.
        # The engine builds thousands of intermediate Datasets per plan
        # construct; measured min-of-5 construct on an idle box:
        # q165 1.06→0.82 s, q167 0.79→0.63 s, q107 2.03→1.53 s (~20-25%
        # on every query's construct).  Same justification as above: engine
        # errors carry their own operator context.
        .config("spark.sql.dataFrameQueryContext.enabled", "false")
        # Bigger Arrow batches amortize the Python-worker round-trip for the
        # vectorized stages (ANN matmuls): measured 2× on brute-force cosine
        # top-k vs the 10k default; 64k rows × ~64-dim float is still ≪
        # executor memory.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Generated-code cache.  Spark keeps 100 compiled classes, keyed on
        # the generated source, and misses two ways here.  (1) LRU thrash:
        # one mixed pass of the interactive attach/ewm queries uses about
        # 200 distinct classes (the extension pipeline about 125), so each
        # class is evicted before its query comes round again, and every
        # pass recompiled 146-218 classes (0.6-1.4 s of janino a pass; 161
        # of 1,548 JVM CPU samples were in UnitCompiler.compile2).  A pass
        # over all 168 registry queries at sf0.01 compiles 1,889 distinct
        # classes, and metaspace grew 57.5 MB over it, so a retained class
        # costs at most ~33 KB and _CODEGEN_CACHE_ENTRIES holds the whole
        # registry.  (2) Stage-id class names: AQE numbers whole-stage
        # codegen stages while it re-plans, and the number varies from run
        # to run (q165: GeneratedIteratorForCodegenStage5, then ...Stage7),
        # so byte-identical pipelines miss on the name alone -- run alone,
        # q165 recompiled 15 classes per collect and 6 per construct.
        # With both, steady mixed passes compile 0 classes.  The stage id
        # still shows in explain() ("*(N)") and in the generated comment.
        # The cache size is a static conf: a session built before
        # configure() ran keeps Spark's 100.
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    # Pin BLAS/OpenMP pools inside Python workers to ONE thread
    # (round 12): the numpy matmul stages (ANN scoring,
    # neardup/semantic-dedup blocks, Arrow rolling kernels) run one
    # worker per core — N workers × M BLAS threads oversubscribes the
    # box by M (this numpy's OpenBLAS is built MAX_THREADS=2 → 2×).
    # The matmuls are already partition-parallel; intra-op threading
    # adds contention, not throughput.  spark.executorEnv.* reaches
    # every Python worker's environment (core/context.py:294) in
    # local AND cluster mode.  A count the driver's environment sets is
    # the user's choice and is left alone.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        if var not in os.environ:
            builder = builder.config(f"spark.executorEnv.{var}", "1")
    return builder


def _env_count(name: str, default: str, star: bool = False) -> str:
    """The env var ``name`` (``default`` when unset) as a positive integer
    string, or ``*`` where ``star`` allows it; any other value raises a
    ``ValueError`` that names the variable."""
    raw = os.environ.get(name, default).strip()
    if (star and raw == "*") or (raw.isascii() and raw.isdigit() and int(raw) > 0):
        return raw
    want = "a positive integer or '*'" if star else "a positive integer"
    raise ValueError(f"{name}={raw!r}: expected {want}")


def get_spark(app_name: str = "polars-ruby-spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Return (or create) the engine's SparkSession.

    Local testing uses ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
    caller's session (spark-submit) wins and we only layer runtime-safe confs.
    """
    _install_jvm_function_cache()
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    if master is None:
        master = f"local[{_env_count('SPARK_GRAFT_CPUS', '*', star=True)}]"
    builder = configure(SparkSession.builder.appName(app_name).master(master))
    if shuffle_partitions is None:
        shuffle_partitions = _env_count("SPARK_GRAFT_SHUFFLE", "32")
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    return builder.getOrCreate()
