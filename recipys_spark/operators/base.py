"""Step base class + Accumulator enum.

Mirrors the reference's lifecycle (reference recipys/step.py:28–107):
``fit`` resolves the selector against the *current* schema + roles and
learns any fitted state; ``transform`` applies the (frozen) transform.
The key difference: our ``transform`` builds a *lazy* DataFrame plan —
nothing executes until an action — while fitted state is produced by
explicit small Spark aggregation jobs collected to the driver.

Fitted state is the train/apply leakage boundary: ``Recipe.bake``
re-uses the frozen state and never re-aggregates over the bake data.
"""

from __future__ import annotations

from enum import Enum
from typing import Callable, Optional

from recipys_spark.ingredients import Ingredients
from recipys_spark.selector import Selector, select_groups, select_sequence


class Accumulator(Enum):
    """Aggregation policies (reference recipys/step.py:263–271)."""

    MAX = "max"
    MIN = "min"
    MEAN = "mean"
    MEDIAN = "median"
    COUNT = "count"
    VAR = "var"
    FIRST = "first"
    LAST = "last"


class Step:
    """Base transform with fit/transform/fit_transform lifecycle.

    Subclasses set ``_uses_groups`` / ``_uses_sequence`` to have the
    group/sequence columns resolved at fit time, and override
    ``do_fit`` (learn state; default no-op) and ``do_transform``
    (return a new lazy DataFrame).
    """

    _uses_groups: bool = True
    _uses_sequence: bool = True
    #: True for 1:1 transforms (every input row maps to exactly one
    #: output row) — lets the memoized Ingredients.row_count() cache
    #: flow through so later fitted steps skip their count probe
    _row_preserving: bool = False
    #: bucket width of the salted plan, in units of the column
    #: ``skew_sequence`` names; None runs the plain plan. Set by the
    #: user or by plans/advisor.recommend_pipeline_config(apply=True)
    skew_bucket_size: Optional[int] = None

    def __init__(self, sel: Optional[Selector] = None) -> None:
        self.sel = sel if sel is not None else Selector("all columns")
        self.columns: list[str] = []
        self.group_columns: list[str] = []
        self.sequence_columns: list[str] = []
        self._trained: bool = False

    # -- lifecycle -----------------------------------------------------

    #: True when the FITTED transform is a stateless projection /
    #: Arrow map that applies unchanged to an unbounded streaming
    #: DataFrame (no window, no aggregation-at-transform, no
    #: stream-unsupported join). Steps whose streamability depends on
    #: configuration override ``stream_safe()`` instead.
    _stream_safe = False

    #: dtype this step's in-place transform casts its selected columns
    #: to (e.g. "double" for the scalers), or None when the step cannot
    #: join a FUSED fit batch (adds/removes columns, fits via something
    #: other than one whole-table df.agg, ...). Recipe.prep uses this
    #: to batch consecutive independent fit jobs into ONE scan — at
    #: 100 TB a 4-scaler recipe pays 1 aggregation pass instead of 4.
    fused_fit_dtype: Optional[str] = None

    @property
    def trained(self) -> bool:
        return self._trained

    def stream_safe(self) -> bool:
        """Whether ``Recipe.bake_stream`` may apply this fitted step to
        a streaming DataFrame. Default: the class flag."""
        return self._stream_safe

    def resolve_fit_columns(self, ingredients: Ingredients) -> None:
        """The resolution half of ``fit``: bind the selector and the
        group/sequence roles against the CURRENT schema. Split out so
        the fused-fit path (Recipe._fusable_batch) can resolve a run of
        steps against one shared pre-transform frame before launching
        their single combined aggregation job."""
        if not isinstance(ingredients, Ingredients):
            raise TypeError(
                f"Step.fit expects Ingredients, got {type(ingredients).__name__}"
            )
        self.columns = self.sel(ingredients)
        if self._uses_groups:
            self.group_columns = select_groups(ingredients)
        if self._uses_sequence:
            self.sequence_columns = select_sequence(ingredients)

    def fit_agg_plan(self, ingredients: Ingredients, prefix: str = ""):
        """Fused-fit protocol: return ``(exprs, consume)`` where
        ``exprs`` is a list of aggregate Columns over the untransformed
        input (aliases MUST start with ``prefix`` so several steps'
        expressions coexist in one ``df.agg``) and ``consume(row_dict)``
        installs the fitted state, or None when this step fits some
        other way. ``resolve_fit_columns`` has already run."""
        return None

    def fit(self, ingredients: Ingredients) -> "Step":
        self.resolve_fit_columns(ingredients)
        self.do_fit(ingredients)
        self._trained = True
        return self

    def transform(self, ingredients: Ingredients) -> Ingredients:
        if not self._trained:
            raise RuntimeError(f"{type(self).__name__} must be fitted before transform.")
        if self.skew_bucket_size is not None and self.skew_sequence(ingredients) is None:
            raise ValueError(
                f"{type(self).__name__} has no salted plan as configured, so "
                f"skew_bucket_size={self.skew_bucket_size!r} cannot apply"
            )
        df = self.do_transform(ingredients)
        out = ingredients.with_df(df)
        if self._row_preserving:
            out._row_count = ingredients._row_count
        new_roles = self.new_column_roles()
        if new_roles:
            columns = set(df.columns)  # one schema analysis, not one per column
            for col, role in new_roles.items():
                if col in columns:
                    out.roles[col] = [role]
        return out

    def fit_transform(self, ingredients: Ingredients) -> Ingredients:
        return self.fit(ingredients).transform(ingredients)

    # -- hooks ----------------------------------------------------------

    def do_fit(self, ingredients: Ingredients) -> None:
        """Learn fitted state. Default: stateless."""

    def do_transform(self, ingredients: Ingredients):
        raise NotImplementedError

    def new_column_roles(self) -> dict[str, str]:
        """Role assignments for columns this step adds (name → role)."""
        return {}

    def skew_sequence(self, ingredients: Ingredients) -> Optional[str]:
        """The column this step's salted plan buckets by, as configured,
        or None when it has none (the default). ``skew_bucket_size`` is
        in this column's units (seconds for a timestamp); the step's
        salted branch and plans/advisor.skew_buckets both read it."""
        return None

    def _sequence_roles(self, ingredients: Ingredients) -> list[str]:
        """The sequence roles the step orders by: the fitted ones, or
        before fit (an advisor probe) the roles of ``ingredients``."""
        return self.sequence_columns if self._trained else select_sequence(ingredients)

    def _first_sequence(
        self, ingredients: Ingredients, temporal: bool = False
    ) -> Optional[str]:
        """The first of :meth:`_sequence_roles` (with ``temporal``, the
        first timestamp one), or None."""
        seqs = self._sequence_roles(ingredients)
        if temporal:
            dtypes = ingredients.dtypes
            seqs = [c for c in seqs if dtypes[c] in ("timestamp", "timestamp_ntz")]
        return seqs[0] if seqs else None

    # -- fitted-state (de)serialization for Recipe.save/load ------------

    def get_state(self) -> dict:
        """JSON-serializable fitted state; subclasses with state override."""
        return {}

    def set_state(self, state: dict) -> None:
        if state:
            raise ValueError(f"{type(self).__name__} takes no fitted state")

    def __repr__(self) -> str:  # pragma: no cover
        return f"{type(self).__name__}(sel={self.sel!r}, trained={self._trained})"


class StepFunction(Step):
    """Arbitrary user fn ``DataFrame -> DataFrame``, no fitting
    (reference recipys/step.py:608–619 — trained at init)."""

    _uses_groups = False
    _uses_sequence = False

    def __init__(self, function: Callable, sel: Optional[Selector] = None) -> None:
        super().__init__(sel)
        self.function = function
        self._trained = True

    def fit(self, ingredients: Ingredients) -> "StepFunction":
        self.columns = self.sel(ingredients)
        return self

    def do_transform(self, ingredients: Ingredients):
        return self.function(ingredients.df)
