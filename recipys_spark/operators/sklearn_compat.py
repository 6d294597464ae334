"""Generic sklearn escape hatch (reference recipys/step.py:366–474).

``StepSklearn`` wraps any sklearn transformer: fit on driver-collected
data, broadcast the fitted object, transform executor-side via one
Arrow-batched ``mapInPandas`` (no per-row Python).

The fit collect is BOUNDED by default: ``fit_sample_rows`` caps the
driver-side frame at 1M rows via a deterministic content-hash top-k
(a distributed TakeOrdered — same rows at any partitioning), because
the reference's fit-on-the-whole-table semantics (step.py:391) would
OOM the driver at 10^12-row scale. Pass ``fit_sample_rows=None`` to
knowingly reproduce the unbounded reference behavior (warns).

sklearn is NOT a dependency of this engine: the native steps in
scale.py / encode.py cover the transformers the reference tests use.
Any object with sklearn's ``fit``/``transform`` protocol is accepted
(duck-typed), so the hatch is fully exercisable without sklearn
installed; real sklearn objects work unchanged when present.
"""

from __future__ import annotations

import copy
from typing import Optional

from pyspark.sql import functions as F
from pyspark.sql import types as T

from recipys_spark.ingredients import Ingredients
from recipys_spark.operators.base import Step
from recipys_spark.selector import Selector, all_predictors
from recipys_spark.functions.worker import ready

try:  # pragma: no cover - environment-dependent
    import sklearn  # noqa: F401

    HAS_SKLEARN = True
except ImportError:  # pragma: no cover
    HAS_SKLEARN = False


class StepSklearn(Step):
    _uses_groups = False
    _stream_safe = True  # fitted state replays as a stateless projection/map
    _uses_sequence = False

    def __init__(
        self,
        sklearn_transformer,
        sel: Optional[Selector] = None,
        columnwise: bool = False,
        in_place: bool = True,
        role: str = "predictor",
        fit_sample_rows: Optional[int] = 1_000_000,
    ) -> None:
        if not (
            hasattr(sklearn_transformer, "fit")
            and hasattr(sklearn_transformer, "transform")
        ):
            if not HAS_SKLEARN:
                raise ImportError(
                    "StepSklearn needs an object with fit/transform "
                    "(scikit-learn is not installed in this environment)"
                )
            raise TypeError(
                f"{type(sklearn_transformer).__name__} has no fit/transform; "
                "pass an sklearn-style transformer"
            )
        super().__init__(sel if sel is not None else all_predictors())
        self.transformer = sklearn_transformer
        self.columnwise = columnwise
        self.in_place = in_place
        self.role = role
        self.fit_sample_rows = fit_sample_rows
        self.fitted = None  # transformer or dict[col, transformer]
        self.desc = f"Use sklearn transformer {type(sklearn_transformer).__name__}"

    def _fit_frame(self, df):
        """The bounded fit-time frame. Separated from do_fit so tests
        can assert the default plan is a distributed TakeOrdered (a
        bounded collect), never an unbounded full-table toPandas."""
        if self.fit_sample_rows is None:
            import warnings

            warnings.warn(
                "StepSklearn(fit_sample_rows=None) collects the ENTIRE "
                "table to the driver for the sklearn fit — the "
                "reference's semantics, but an OOM at cluster scale. "
                "Set fit_sample_rows to a bounded cap (default 1M) "
                "unless the table is known-small.",
                stacklevel=3,
            )
            return df
        # Deterministic sample: `limit` on a distributed frame
        # depends on partition order, which would break the
        # prep≡bake / refit determinism rule. Top-k by content hash
        # is a distributed TakeOrdered — same rows for ANY
        # partitioning of the same data.
        h = F.xxhash64(*[F.col(c) for c in df.columns])
        return (
            df.withColumn("__h", h)
            .orderBy("__h")
            .limit(self.fit_sample_rows)
            .drop("__h")
        )

    def do_fit(self, ingredients: Ingredients) -> None:
        pdf = self._fit_frame(ingredients.df.select(*self.columns)).toPandas()
        if self.columnwise:
            self.fitted = {}
            for c in self.columns:
                t = copy.deepcopy(self.transformer)
                # LabelEncoder-style transformers take 1-D input
                try:
                    t.fit(pdf[[c]])
                except ValueError:
                    t.fit(pdf[c])
                self.fitted[c] = t
        else:
            self.fitted = copy.deepcopy(self.transformer).fit(pdf)

    def _out_names(self, n_out: int) -> list[str]:
        name = type(self.transformer).__name__
        if self.columnwise:
            return [f"{name}_{c}" for c in self.columns]
        return [f"{name}_{i}" for i in range(1, n_out + 1)]

    def do_transform(self, ingredients: Ingredients):
        import numpy as np
        import pandas as pd

        df = ingredients.df
        fitted = self.fitted
        columns = list(self.columns)
        columnwise = self.columnwise
        in_place = self.in_place

        # Probe output arity on a 1-row sample (empty frames are
        # unreliable). `limit(1)` without ordering is partition-order
        # dependent, and a row with nulls can mis-probe a transformer's
        # output arity — order by (null count asc, content hash) so the
        # probe row is deterministic at any partitioning and fully
        # non-null whenever one exists.
        nullcnt = None
        for c in columns:
            term = F.col(c).isNull().cast("int")
            nullcnt = term if nullcnt is None else nullcnt + term
        h = F.xxhash64(*[F.col(c) for c in columns])
        sample = (
            df.select(*columns)
            .orderBy(nullcnt.asc(), h.asc())
            .limit(1)
            .toPandas()
        )
        if columnwise:
            outs = {c: np.asarray(_transform_one(fitted[c], sample, c)) for c in columns}
            n_out_per_col = {c: outs[c].shape[1] if outs[c].ndim > 1 else 1 for c in columns}
            if in_place and any(n != 1 for n in n_out_per_col.values()):
                raise ValueError("Transformer changes dimensionality; use in_place=False")
        else:
            raw = fitted.transform(sample)
            if hasattr(raw, "toarray"):
                raise TypeError("Sparse sklearn output is not supported")
            out = np.asarray(raw)
            n_out = out.shape[1] if out.ndim > 1 else 1
            if in_place and n_out != len(columns):
                raise ValueError("Transformer changes dimensionality; use in_place=False")

        if in_place:
            out_fields = [T.StructField(c, T.DoubleType()) for c in columns]
            keep = [c for c in df.columns if c not in columns]
        else:
            if columnwise:
                names = self._out_names(0)
            else:
                names = self._out_names(n_out)
            out_fields = [T.StructField(n, T.DoubleType()) for n in names]
            keep = list(df.columns)
        schema = T.StructType(
            [f for f in df.schema.fields if f.name in keep] + out_fields
        )
        out_names = [f.name for f in out_fields]

        def transform_batches(it):
            ready()
            for pdf in it:
                if columnwise:
                    mats = [
                        np.asarray(_transform_one(fitted[c], pdf, c)).reshape(len(pdf), -1)
                        for c in columns
                    ]
                    mat = np.hstack(mats) if mats else np.empty((len(pdf), 0))
                else:
                    mat = np.asarray(fitted.transform(pdf[columns])).reshape(len(pdf), -1)
                res = pdf[keep].copy() if keep else pd.DataFrame(index=pdf.index)
                for i, n in enumerate(out_names):
                    res[n] = mat[:, i]
                yield res[[*keep, *out_names]]

        return df.mapInPandas(transform_batches, schema=schema)

    def new_column_roles(self) -> dict[str, str]:
        if self.in_place:
            return {}
        name = type(self.transformer).__name__
        # names resolved lazily at transform; register the columnwise set
        if self.columnwise:
            return {f"{name}_{c}": self.role for c in self.columns}
        return {}


def _transform_one(t, pdf, col):
    try:
        return t.transform(pdf[[col]])
    except ValueError:
        return t.transform(pdf[col])
