"""Recipe: role assignment + ordered steps + prep/bake lifecycle.

Mirrors the reference driver (reference recipys/recipe.py:16–202):
``prep()`` fit-transforms every untrained step in order (train path);
``bake()`` re-applies the frozen fitted transforms (apply path), with
the reference's fit-on-bake fallback for untrained steps
(recipe.py:170–178). The invariant prep(X) ≡ bake(X) on identical data
(reference test_recipe.py:17–21) holds because fit jobs are
deterministic aggregations.

Divergences from the reference, by design:
- steps compile to ONE lazy Spark plan; nothing executes until an
  action (or an explicit per-stage checkpoint).
- ``_apply_group`` (reference recipe.py:129–134) is a vestigial no-op
  there and dropped here; grouping is the steps' Window specs.
- ``cache()`` (reference recipe.py:198–202) generalizes to
  ``save_state()/load_state()``: a JSON manifest of fitted state, the
  basis for resumable fit/bake (see plans/lineage.py).
"""

from __future__ import annotations

import json
from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame

from recipys_spark.ingredients import Ingredients
from recipys_spark.operators.base import Step


def _as_list(x) -> list[str]:
    if x is None:
        return []
    if isinstance(x, str):
        return [x]
    return list(x)


def _tag_value(o):
    """JSON encoder for fitted-state values that JSON has no native type
    for. Explicit type tags instead of ``default=str``: a date or
    Decimal category silently round-tripping as a *string* would make a
    reloaded encoder build literal comparisons of the wrong type and
    emit nulls instead of encodings."""
    import datetime
    import decimal

    if isinstance(o, datetime.datetime):
        return {"__type": "datetime", "v": o.isoformat()}
    if isinstance(o, datetime.date):
        return {"__type": "date", "v": o.isoformat()}
    if isinstance(o, decimal.Decimal):
        return {"__type": "decimal", "v": str(o)}
    raise TypeError(
        f"fitted state contains unserializable {type(o).__name__}: {o!r}"
    )


def _untag(obj):
    import datetime
    import decimal

    if isinstance(obj, dict):
        t = obj.get("__type")
        if t == "datetime":
            return datetime.datetime.fromisoformat(obj["v"])
        if t == "date":
            return datetime.date.fromisoformat(obj["v"])
        if t == "decimal":
            return decimal.Decimal(obj["v"])
        return {k: _untag(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_untag(v) for v in obj]
    return obj


class Recipe:
    def __init__(
        self,
        data: Union[DataFrame, Ingredients],
        outcomes: Union[str, Sequence[str], None] = None,
        predictors: Union[str, Sequence[str], None] = None,
        groups: Union[str, Sequence[str], None] = None,
        sequences: Union[str, Sequence[str], None] = None,
    ) -> None:
        if isinstance(data, Ingredients):
            ingredients = data
        else:
            ingredients = Ingredients(data)
        self.data: Optional[Ingredients] = ingredients
        self.original_columns = list(ingredients.columns)
        self._cached_roles: dict = {}
        self.steps: list[Step] = []
        for col in _as_list(outcomes):
            self.data = self.data.update_role(col, "outcome")
        for col in _as_list(predictors):
            self.data = self.data.update_role(col, "predictor")
        for col in _as_list(groups):
            self.data = self.data.update_role(col, "group")
        for col in _as_list(sequences):
            self.data = self.data.update_role(col, "sequence")

    # -- role management (reference recipe.py:62–100) --------------------

    def _require_data(self) -> Ingredients:
        if self.data is None:
            raise ValueError(
                "recipe was cache()d (data reference dropped); "
                "role mutation requires a data-bound recipe"
            )
        return self.data

    def add_roles(self, columns: Union[str, Sequence[str]], new_role: str) -> "Recipe":
        self._require_data()
        for col in _as_list(columns):
            self.data = self.data.add_role(col, new_role)
        return self

    def update_roles(
        self,
        columns: Union[str, Sequence[str]],
        new_role: str,
        old_role: Optional[str] = None,
    ) -> "Recipe":
        self._require_data()
        for col in _as_list(columns):
            self.data = self.data.update_role(col, new_role, old_role)
        return self

    # -- pipeline ---------------------------------------------------------

    def add_step(self, step: Step) -> "Recipe":
        if not isinstance(step, Step):
            raise TypeError(f"add_step expects a Step, got {type(step).__name__}")
        self.steps.append(step)
        return self

    # -- lifecycle ----------------------------------------------------------

    def _check_data(self, data: Optional[Union[DataFrame, Ingredients]]) -> Ingredients:
        """Input must carry exactly the original column set
        (reference recipe.py:114–127)."""
        if data is None:
            if self.data is None:
                raise ValueError(
                    "recipe was cache()d (data reference dropped); "
                    "pass data= to prep/bake"
                )
            return self.data
        roles = self.data.roles if self.data is not None else self._cached_roles
        if isinstance(data, Ingredients):
            ing = Ingredients(data.df, roles, check_roles=False)
        else:
            ing = Ingredients(data, roles, check_roles=False)
        if list(ing.columns) != self.original_columns:
            raise ValueError(
                "Columns of data argument differ from the recipe data: "
                f"expected {self.original_columns}, got {list(ing.columns)}"
            )
        return ing

    def _fusable_batch(self, start: int, ingredients: Ingredients, refit: bool):
        """Maximal run of consecutive steps from ``start`` whose fits
        can share ONE ``df.agg`` scan (VERDICT r5 #2). A step joins the
        batch iff it needs fitting, declares ``fused_fit_dtype`` (an
        in-place whole-table-agg fit, operators/scale.py), reads no
        column an earlier batch member rewrites, and resolves to the
        SAME column set against the batch's post-transform schema (a
        dtype-keyed selector could otherwise pick up columns an earlier
        scaler casts to double). The checks themselves are lazy, but a
        candidate's ``fit_agg_plan`` may launch its own memoized
        row-count probe (quantile steps resolving exact-vs-sketch) —
        the same job its solo fit would run, shared across the batch.

        Returns [(step, exprs, consume), ...]."""
        from pyspark.sql import functions as F

        batch = []
        written: dict[str, str] = {}  # col -> post-transform dtype
        for idx in range(start, len(self.steps)):
            step = self.steps[idx]
            if not (refit or not step.trained):
                break
            if getattr(step, "fused_fit_dtype", None) is None:
                break
            step.resolve_fit_columns(ingredients)
            if set(written) & set(step.columns):
                break  # reads a rewritten column: must fit sequentially
            if written:
                adj = ingredients.df.select(
                    *[
                        F.col(c).cast(written[c]).alias(c) if c in written else F.col(c)
                        for c in ingredients.df.columns
                    ]
                )
                adj_ing = Ingredients(adj, ingredients.roles, check_roles=False)
                if step.sel(adj_ing) != step.columns:
                    break  # resolution is dtype-sensitive: don't fuse
            plan = step.fit_agg_plan(ingredients, prefix=f"__fused{idx}__")
            if plan is None:
                break
            batch.append((step, *plan))
            written.update({c: step.fused_fit_dtype for c in step.columns})
        return batch

    def _apply_fit_transform(self, ingredients: Ingredients, refit: bool) -> Ingredients:
        i = 0
        while i < len(self.steps):
            step = self.steps[i]
            if refit or not step.trained:
                batch = self._fusable_batch(i, ingredients, refit)
                if len(batch) >= 2:
                    # ONE aggregation job fits the whole run: a 100 TB
                    # table is scanned once for a 3-scaler chain, not 3×
                    exprs = [e for _, es, _ in batch for e in es]
                    row = ingredients.df.agg(*exprs).first().asDict()
                    for s, _, consume in batch:
                        consume(row)
                        s._trained = True
                        ingredients = s.transform(ingredients)
                    i += len(batch)
                    continue
                ingredients = step.fit_transform(ingredients)
            else:
                ingredients = step.transform(ingredients)
            i += 1
        return ingredients

    def prep(
        self,
        data: Optional[Union[DataFrame, Ingredients]] = None,
        refit: bool = False,
    ) -> DataFrame:
        """Fit + transform (train path). Returns the lazy result frame.

        Salted plans for skewed groups are a per-step setting
        (``skew_bucket_size``); plans/advisor.recommend_pipeline_config
        (apply=True) sets them from one probe of the data."""
        ingredients = self._check_data(data)
        result = self._apply_fit_transform(ingredients, refit=refit)
        # record post-prep roles so bake wraps inputs consistently
        if self.data is not None:
            self.data = Ingredients(self.data.df, result.roles, check_roles=False)
        else:
            self._cached_roles = dict(result.roles)
        return result.df

    def bake(self, data: Optional[Union[DataFrame, Ingredients]] = None) -> DataFrame:
        """Apply with frozen state (inference path). Untrained steps are
        fitted on the fly, matching the reference quirk
        (recipe.py:170–178; empty-recipe bake works)."""
        ingredients = self._check_data(data)
        result = self._apply_fit_transform(ingredients, refit=False)
        return result.df

    def bake_stream(self, data: DataFrame) -> DataFrame:
        """Apply the FITTED recipe to an unbounded streaming DataFrame
        (Structured Streaming): batch-fit at prep time, stream-apply
        with frozen state — the train/serve split of the prep/bake
        leakage rule extended to a live feed. Returns the transformed
        streaming frame; attach your own ``writeStream`` sink.

        Requirements, checked eagerly so a bad pipeline fails at build
        time instead of mid-stream:

        - ``data.isStreaming`` (use :meth:`bake` for batch frames);
        - every step already trained (a stream can't be collected to
          fit state — ``prep()`` on a bounded sample first);
        - every step ``stream_safe()``: fitted state replaying as a
          stateless projection / Arrow map. Windowed or
          transform-time-aggregating steps (StepHistorical, StepLag,
          StepSessionize, directional/group-stat StepImputeFill,
          StepResampling, StepAssembleContext, …) raise here — their
          streaming analogs live in ``recipys_spark.streaming``
          (watermarked session stats / running features / resample /
          context assembly / dedup).
        """
        if not getattr(data, "isStreaming", False):
            raise ValueError(
                "bake_stream expects a streaming DataFrame "
                "(spark.readStream...); use bake() for batch data"
            )
        untrained = [type(s).__name__ for s in self.steps if not s.trained]
        if untrained:
            raise RuntimeError(
                "bake_stream applies FROZEN state only; prep() the "
                f"recipe on batch data first (untrained: {untrained})"
            )
        unsafe = [type(s).__name__ for s in self.steps if not s.stream_safe()]
        if unsafe:
            raise ValueError(
                "steps not applicable to an unbounded stream: "
                f"{unsafe}. Window/aggregation features have watermarked "
                "streaming analogs in recipys_spark.streaming: "
                "streaming_resample (StepResampling's tumbling buckets), "
                "streaming_session_stats (StepSessionize), "
                "streaming_running_features (StepHistorical), "
                "streaming_assemble_context (StepAssembleContext), "
                "streaming_exact_dedup."
            )
        ingredients = self._check_data(data)
        for step in self.steps:
            ingredients = step.transform(ingredients)
        return ingredients.df

    # -- fitted-state persistence (reference Recipe.cache analog) ---------

    def cache(self, path: Optional[str] = None) -> "Recipe":
        """Literal reference API (reference recipe.py:198–202): drop the
        bound data reference so the fitted recipe is a small picklable /
        serializable object; prep/bake afterwards require an explicit
        ``data=``. Optionally also persists the fitted-state manifest
        (``save_state``) when a path is given."""
        if path is not None:
            self.save_state(path)
        if self.data is not None:
            self._cached_roles = dict(self.data.roles)
            self.data = None
        return self

    def save_state(self, path: str) -> None:
        roles = self.data.roles if self.data is not None else self._cached_roles
        state = {
            "original_columns": self.original_columns,
            "roles": roles,
            "steps": [
                {
                    "type": type(s).__name__,
                    "trained": s.trained,
                    "columns": s.columns,
                    "group_columns": s.group_columns,
                    "sequence_columns": s.sequence_columns,
                    "state": s.get_state(),
                }
                for s in self.steps
            ],
        }
        with open(path, "w") as f:
            json.dump(state, f, indent=1, default=_tag_value)

    def load_state(self, path: str) -> "Recipe":
        """Restore fitted state into a recipe with the same step list."""
        with open(path) as f:
            state = _untag(json.load(f))
        if len(state["steps"]) != len(self.steps):
            raise ValueError("step count mismatch between recipe and saved state")
        for step, st in zip(self.steps, state["steps"]):
            if type(step).__name__ != st["type"]:
                raise ValueError(f"step type mismatch: {type(step).__name__} vs {st['type']}")
            step.columns = st["columns"]
            step.group_columns = st["group_columns"]
            step.sequence_columns = st["sequence_columns"]
            if st["state"]:
                step.set_state(st["state"])
            step._trained = st["trained"]
        return self

    def __repr__(self) -> str:
        roles = self.data.roles if self.data is not None else self._cached_roles
        return f"Recipe(roles={roles}, steps={self.steps})"
