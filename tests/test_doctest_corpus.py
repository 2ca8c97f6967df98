"""Regression pin for the reference-doctest corpus (DOCTESTS.md).

Replays the doc examples of every method the round-11 corpus sweep fixed
and asserts ZERO fail statuses.  The FULL 903-example corpus runs via
``python tools/doctest_harness/run.py`` (≈6 min); this subset (~90
examples) keeps the suite honest about the semantics that corpus pinned:
rolling-nearest quantiles, /0 → inf, dynamic integer windows, multi-output
renames, replace-with-exprs, series-literal attaches, …
"""

import os
import sys

import pytest

_HARNESS = os.path.join(os.path.dirname(__file__), "..",
                        "tools", "doctest_harness")

# methods whose examples the round-11 sweep fixed (DOCTESTS.md §fixes)
REGRESSION_METHODS = {
    "Expr.rolling_quantile", "Series.rolling_quantile",
    "Expr.rolling_quantile_by", "Expr.rolling_median_by",
    "Expr.truediv", "Series.pct_change", "Expr.pct_change",
    "Expr.arctanh", "Series.arccosh", "Series.arctanh",
    "Expr.sign", "Series.sign", "Expr.sub",
    "NameExpr.prefix", "NameExpr.suffix", "NameExpr.map",
    "NameExpr.to_lowercase", "NameExpr.to_uppercase",
    "Expr.replace", "Expr.replace_strict", "Expr.reinterpret",
    "Expr.append", "Expr.rechunk",
    "DataFrame.group_by_dynamic", "LazyFrame.group_by_dynamic",
    "DataFrame.pivot", "DataFrame.upsample", "DataFrame.map_rows",
    "DataFrame.iter_rows", "DataFrame.product", "DataFrame.describe",
    "DataFrame.write_ndjson",
    "Series.cut", "Series.qcut", "Series.is_in", "Series.describe",
    "StructNameSpace.unnest", "ListExpr.concat",
    "SqlContext.register", "SqlContext.unregister", "SqlContext.execute",
    "StringExpr.extract_groups", "StringExpr.strptime",
    "StringNameSpace.strptime", "MetaExpr.root_names",
}


@pytest.mark.timeout(1200)
def test_doctest_regression_subset():
    sys.path.insert(0, _HARNESS)
    try:
        import extract
        import run as runner
    finally:
        sys.path.pop(0)
    if not os.path.isdir(extract.REF_LIB):
        pytest.skip(f"reference Ruby sources absent: {extract.REF_LIB} "
                    f"(the corpus is extracted from them)")
    records = extract.extract_all()
    import tempfile

    cwd = os.getcwd()
    with tempfile.TemporaryDirectory() as td:
        os.chdir(td)  # examples may write files (main() does the same)
        try:
            results = runner.run_corpus(records, only=REGRESSION_METHODS)
        finally:
            os.chdir(cwd)
    fails = [r for r in results if r["status"].startswith("fail")]
    assert not fails, "\n".join(
        f"{r['id']}: {r['status']} {r['detail']}" for r in fails)
    ran = [r for r in results
           if r["status"] in ("pass", "pass_dev", "ran_nocompare")]
    assert len(ran) >= 60  # the subset must actually execute
