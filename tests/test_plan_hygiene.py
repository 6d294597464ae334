"""Physical-plan hygiene: the scale properties SURVEY.md §4 promises.

These tests inspect ``explain`` output rather than results:
- window fusion: a recipe of N window steps sharing the canonical
  (partitionBy, orderBy) spec must compile to ONE shuffle (Exchange)
  and ONE sort, not N;
- column pruning: a projection of 2 columns must reach the parquet
  scan's ReadSchema;
- predicate pushdown: a filter must appear in PushedFilters;
- worker start: every function the package ships to Python workers
  calls ``functions.worker.ready()`` first (an AST walk, no Spark);
- knobs: the package reads no tuning environment variable, and no
  public operator takes a kernel switch (signature walks, no Spark);
- salting: one protocol — no as-of ``strategy=``, no
  ``prep(auto_skew=)``, and recipe.py imports nothing from plans/.
"""

import ast
import os
import re

import pytest

from pyspark.sql import functions as F

from recipys_spark import Accumulator, Recipe
from recipys_spark.operators import (
    StepHistorical,
    StepImputeFill,
    StepLag,
    StepRolling,
    StepSessionize,
    asof_join,
)
from recipys_spark.selector import all_of
from recipys_spark.sources.io import synthetic_transcripts


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def transcripts(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "t")
    synthetic_transcripts(spark, n_convs=50, with_features=True).write.parquet(path)
    return spark.read.parquet(path)


def test_recipe_windows_fuse_into_one_shuffle(spark, transcripts):
    rec = (
        Recipe(
            transcripts,
            predictors=["value", "n_chars"],
            groups="conv_id",
            sequences=["turn_idx", "ts"],
        )
        .add_step(StepHistorical(sel=all_of(["value"]), fun=Accumulator.MEAN))
        .add_step(StepHistorical(sel=all_of(["n_chars"]), fun=Accumulator.MAX))
        .add_step(StepImputeFill(sel=all_of(["value"]), strategy="forward"))
        .add_step(StepLag(sel=all_of(["value"]), lags=(1,)))
        .add_step(StepSessionize(gap="30m"))
        .add_step(StepRolling(sel=all_of(["value"]), fun=Accumulator.MEAN, window=3))
    )
    plan = plan_of(rec.prep())
    n_exchange = len(re.findall(r"Exchange hashpartitioning", plan))
    n_sort = len(re.findall(r"\bSort \[", plan))
    assert n_exchange == 1, f"expected 1 shuffle for 6 fused window steps, got {n_exchange}:\n{plan}"
    # ffill/sessionize/rolling use different frames but the same
    # (partition, order): one sort should serve them all
    assert n_sort == 1, f"expected 1 sort, got {n_sort}:\n{plan}"


def test_column_pruning_reaches_scan(spark, transcripts):
    out = transcripts.select("conv_id", "turn_idx")
    plan = plan_of(out)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"conv_id", "turn_idx"}, plan


def test_predicate_pushdown_reaches_scan(spark, transcripts):
    out = transcripts.where(F.col("turn_idx") > 3).select("conv_id", "turn_idx")
    plan = plan_of(out)
    assert re.search(r"PushedFilters: \[.*GreaterThan\(turn_idx,3\)", plan), plan


def test_median_one_shuffle_no_join_back(spark, transcripts):
    """The exact median ships full rows (``text`` included) through one
    repartition and appends its columns in place: one shuffle, no
    join back to the input."""
    rec = Recipe(
        transcripts,
        predictors=["value"],
        groups="conv_id",
        sequences=["turn_idx", "ts"],
    ).add_step(StepHistorical(sel=all_of(["value"]), fun=Accumulator.MEDIAN))
    plan = plan_of(rec.prep())
    assert "text" in transcripts.columns
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    # no join of any kind: a small input would broadcast the join back
    assert "Join" not in plan, plan


def test_asof_union_strategy_single_window_pass(spark, transcripts):
    feats = transcripts.where("role = 'tool'").select(
        "conv_id", F.col("ts").alias("fts"), F.col("n_chars").alias("feat")
    )
    out = asof_join(
        transcripts.select("conv_id", "turn_idx", "ts"),
        feats,
        on="conv_id",
        left_ts="ts",
        right_ts="fts",
    )
    plan = plan_of(out)
    assert len(re.findall(r"\bWindow\b", plan)) == 1, plan
    # no join at all in the union strategy
    assert "Join" not in plan, plan


def test_asof_salted_join_back_reuses_the_window_shuffle(spark, transcripts):
    """The salted as-of plan (skew.salted_fill) shuffles the merged
    stream once, by (key, bucket); its sort-merge join back to the
    per-bucket prefix reuses that partitioning, so the other exchanges
    all move the small prefix table (agg, cross-bucket window, join
    side). The as-of join drops NULL-key right rows, so it needs no
    NULL-safe struct-key join, which would re-shuffle every row a
    second time (five exchanges)."""
    feats = transcripts.where("role = 'tool'").select(
        "conv_id", F.col("ts").alias("fts"), F.col("n_chars").alias("feat")
    )
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # a prefix too big to broadcast: the join is a sort-merge join
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = asof_join(
            transcripts.select("conv_id", "turn_idx", "ts"),
            feats,
            on="conv_id",
            left_ts="ts",
            right_ts="fts",
            skew_bucket_size=3600,
        )
        plan = plan_of(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert "SortMergeJoin" in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 4, plan


def test_stateless_math_steps_no_exchange(spark):
    """Polynomial and spline transforms are pure projections: the plan
    must contain no Exchange (shuffle) and no Window."""
    import pandas as pd

    from recipys_spark.operators import StepPolynomialFeatures, StepSpline
    from recipys_spark.selector import all_of

    pdf = pd.DataFrame({"id": range(100), "x": [float(i % 17) for i in range(100)]})
    df = spark.createDataFrame(pdf)
    rec = (
        Recipe(df, predictors=["x"])
        .add_step(StepPolynomialFeatures(sel=all_of(["x"]), degree=3))
        .add_step(StepSpline(sel=all_of(["x"]), n_knots=4, degree=2))
    )
    out = rec.prep()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan


def test_unigram_vocab_join_not_force_broadcast(spark):
    """The self-fit vocabulary is unbounded (10^8+ distinct tokens on a
    web corpus), so unigram_logprob_scores must NOT carry an explicit
    broadcast hint on the token join — the static plan keeps a
    sort-merge join and AQE converts to broadcast at runtime only when
    the measured vocab size fits. A forced hint never degrades and
    would OOM the build side at scale (VERDICT r3 finding #1)."""
    import pandas as pd

    from recipys_spark.operators.textstats import unigram_logprob_scores

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(100),
                "text": [f"tok{i} tok{i + 1} common word" for i in range(100)],
            }
        )
    )
    out = unigram_logprob_scores(docs)
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in optimized
    # discriminating probe: with auto-broadcast disabled (the stand-in
    # for "vocab too big to broadcast"), the token join must degrade to
    # a sort-merge join — a forced F.broadcast hint would still plan a
    # BroadcastHashJoin regardless of the threshold
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        big = unigram_logprob_scores(docs)
        initial = big._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in initial, initial
        assert "BroadcastHashJoin" not in initial, initial
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    # and values still flow on the default path (AQE/static broadcast)
    rows = out.collect()
    assert len(rows) == 100


_SHIPPERS = {
    "mapInArrow",
    "mapInPandas",
    "applyInPandas",
    "applyInArrow",
    "applyInPandasWithState",
}
_PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "recipys_spark")


def _is_pandas_udf(dec) -> bool:
    f = dec.func if isinstance(dec, ast.Call) else dec
    return (isinstance(f, ast.Attribute) and f.attr == "pandas_udf") or (
        isinstance(f, ast.Name) and f.id == "pandas_udf"
    )


def _shipped_functions(tree):
    """(line, function def or None) for every function the module ships:
    the first argument of a shipping call, resolved through the
    enclosing scopes by name (a factory call resolves to the def it
    returns), and every ``pandas_udf``-decorated def."""
    scopes = {}  # node -> innermost enclosing function/module scope
    defs = {}  # (scope, name) -> the def of that name in that scope

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            scopes[child] = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs[(scope, child.name)] = child
                visit(child, child)
            else:
                visit(child, scope)

    visit(tree, tree)

    def resolve(name, scope):
        while True:
            if (scope, name) in defs:
                return defs[(scope, name)]
            if scope is tree:
                return None
            scope = scopes[scope]

    def shipped(arg, scope):
        if isinstance(arg, ast.Name):
            return resolve(arg.id, scope)
        factory = (
            resolve(arg.func.id, scope)
            if isinstance(arg, ast.Call) and isinstance(arg.func, ast.Name)
            else None
        )
        if factory is None:
            return None
        returns = [
            r.value.id
            for r in ast.walk(factory)
            if isinstance(r, ast.Return)
            and isinstance(r.value, ast.Name)
            and scopes[r] is factory
        ]
        return resolve(returns[0], factory) if len(returns) == 1 else None

    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and any(
            _is_pandas_udf(d) for d in node.decorator_list
        ):
            yield node.lineno, node
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in _SHIPPERS
        ):
            args = list(node.args) + [k.value for k in node.keywords if k.arg == "func"]
            yield node.lineno, shipped(args[0], scopes[node]) if args else None


def _calls_ready_first(fn) -> bool:
    body = fn.body
    if (
        body
        and isinstance(body[0], ast.Expr)
        and isinstance(body[0].value, ast.Constant)
        and isinstance(body[0].value.value, str)
    ):
        body = body[1:]  # docstring
    first = body[0] if body else None
    return (
        isinstance(first, ast.Expr)
        and isinstance(first.value, ast.Call)
        and isinstance(first.value.func, ast.Name)
        and first.value.func.id == "ready"
        and not first.value.args
    )


def _imports_ready(tree) -> bool:
    return any(
        isinstance(s, ast.ImportFrom)
        and s.module == "recipys_spark.functions.worker"
        and any(a.name == "ready" and a.asname is None for a in s.names)
        for s in tree.body
    )


def test_every_shipped_function_calls_ready_first():
    """Every function passed to a Python-worker op or decorated with
    ``pandas_udf`` calls ``ready()`` — imported at module level from
    ``recipys_spark.functions.worker`` — as its first statement. One
    forgotten site costs each of its tasks the ~0.1–0.2 s zip-directory
    re-read on Python < 3.13 (functions/worker.py)."""
    bad, n_sites = [], 0
    for dirpath, _, files in os.walk(_PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read())
            rel = os.path.relpath(path, os.path.dirname(_PKG))
            sites = list(_shipped_functions(tree))
            n_sites += len(sites)
            for line, node in sites:
                if node is None:
                    bad.append(f"{rel}:{line}: shipped function not resolvable")
                elif not _calls_ready_first(node):
                    bad.append(f"{rel}:{node.lineno}: {node.name} does not call ready() first")
                elif not _imports_ready(tree):
                    bad.append(f"{rel}: ready is not a module-level import")
    assert n_sites, "the walk found no shipped function"
    assert not bad, "\n".join(bad)


def _env_reads(tree):
    """(line, variable name or None) for every environment read: the
    key of ``os.environ[...]`` / ``os.environ.get(...)`` /
    ``os.getenv(...)`` (None when it is not a string literal, or the
    environment is used some other way), and any ``from os import``
    of ``environ``/``getenv``."""
    parents = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "os":
            for a in node.names:
                if a.name in ("environ", "environb", "getenv", "getenvb"):
                    yield node.lineno, None
        if not (
            isinstance(node, ast.Attribute)
            and node.attr in ("environ", "environb", "getenv", "getenvb")
        ):
            continue
        use, key = parents.get(node), None
        if isinstance(use, ast.Attribute) and use.attr == "get":
            use = parents.get(use)  # os.environ.get(...)
        if isinstance(use, ast.Subscript):
            key = use.slice
        elif isinstance(use, ast.Call) and use.args:
            key = use.args[0]
        if isinstance(key, ast.Constant) and isinstance(key.value, str):
            yield node.lineno, key.value
        else:
            yield node.lineno, None


def test_no_env_knobs():
    """Tuning lives in code — get_spark's settings (overridable through
    ``extra_conf``) and plans/advisor.py — not in environment variables
    nobody sets. The one environment read the package keeps is the
    Iceberg jar's deployment path."""
    allowed = {"SPARK_GRAFT_ICEBERG_JAR"}
    bad = []
    for dirpath, _, files in os.walk(_PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read())
            rel = os.path.relpath(path, os.path.dirname(_PKG))
            bad += [
                f"{rel}:{line}: reads env {name or '(not a literal)'}"
                for line, name in _env_reads(tree)
                if name not in allowed
            ]
    assert not bad, "\n".join(bad)


#: parameters that pick between two bit-identical kernels or toggle an
#: option no caller sets; the library keeps one kernel per semantic
#: (input-size gates are module constants, e.g.
#: similarity.VECTORIZE_EXPR_NODES)
_KERNEL_SWITCHES = {"vectorized", "materialize_tokens", "target_recall_tables"}


def _public_callables(pkg):
    """(qualified name, callable) for every public function, class and
    class method defined in ``pkg`` and its submodules."""
    import importlib
    import inspect
    import pkgutil

    mods = [pkg] + [
        importlib.import_module(f"{pkg.__name__}.{m.name}")
        for m in pkgutil.iter_modules(pkg.__path__)
    ]
    seen = set()
    for mod in mods:
        for name, obj in vars(mod).items():
            if name.startswith("_") or not callable(obj) or id(obj) in seen:
                continue
            if not getattr(obj, "__module__", "").startswith("recipys_spark"):
                continue
            seen.add(id(obj))
            yield f"{obj.__module__}.{name}", obj
            if inspect.isclass(obj):
                for meth, fn in vars(obj).items():
                    if not meth.startswith("_") and inspect.isfunction(fn):
                        yield f"{obj.__module__}.{name}.{meth}", fn


def test_no_kernel_switch_knobs():
    """No public operator or function takes a user-set kernel switch:
    MinHash and SimHash have one kernel each, and the LSH/IVF tiers
    choose theirs from input size alone."""
    import inspect

    import recipys_spark.functions
    import recipys_spark.operators

    bad, n = [], 0
    for pkg in (recipys_spark.operators, recipys_spark.functions):
        for qual, obj in _public_callables(pkg):
            try:
                params = inspect.signature(obj).parameters
            except (TypeError, ValueError):
                continue
            n += 1
            bad += [f"{qual}({p}=)" for p in params if p in _KERNEL_SWITCHES]
    assert n > 100, f"the walk found only {n} callables"
    assert not bad, "\n".join(bad)


def test_one_salting_protocol():
    """A bucket selects a salted plan and only the advisor sets one:
    the as-of join has no plan switch, ``Recipe.prep`` no skew probe,
    and recipe.py imports nothing from recipys_spark.plans."""
    import inspect

    from recipys_spark.operators import StepAsofJoin

    for fn in (asof_join, StepAsofJoin):
        assert "strategy" not in inspect.signature(fn).parameters, fn
    assert "auto_skew" not in inspect.signature(Recipe.prep).parameters
    with open(os.path.join(_PKG, "recipe.py"), encoding="utf-8") as f:
        tree = ast.parse(f.read())
    imported = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            imported += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            # a relative import inside recipe.py is relative to the package
            mod = ".".join(filter(None, ["recipys_spark" * bool(node.level), node.module]))
            imported += [f"{mod}.{a.name}" for a in node.names]
    assert imported, "the walk found no imports"
    bad = [m for m in imported if m.startswith("recipys_spark.plans")]
    assert not bad, bad
