"""Transcript-to-training-row assembly: point-in-time context windows.

The north-star workload turns an Iceberg table of conversation turns
(conv_id, turn_idx, role, text, tool, ts) into per-turn training rows.
The core op an SFT/RL data pipeline needs on top of the generic window
features (StepHistorical, StepLag, StepSessionize) is CONTEXT
ASSEMBLY: for every turn, the concatenation of the turns that precede
it — most-recent-first retention under a token budget — with zero
temporal leakage (a row's context may never touch turn_idx' >= its
own; the prep/bake rule of reference recipys/recipe.py:231-263 applied
to text).

``assemble_context`` is pure JVM: one running token sum + one bounded
``collect_list`` window per conversation, then higher-order array
functions (filter / transform / aggregate) — no UDF, no join, ONE
shuffle on conv_id shared by both windows. The retention predicate
"suffix token total <= budget" is monotone in turn order, so the kept
set is always a contiguous most-recent suffix, computed per row from
the running sums without pairwise work.

Scale notes (100 TB / 10^12 turns):

- the collect_list frame is ROWS-bounded by ``max_turns`` (default
  64), so per-row window state is O(max_turns × turn bytes) even for
  the 100×-median skew conversations the engine's salting tier exists
  for — an UNBOUNDED preceding text frame would hold every prior turn
  of a monster conversation in one window buffer; pass
  ``max_turns=None`` only when conversation length is known-bounded.
- both windows share one partitioning (conv_id) and one sort
  (turn order): Catalyst fuses them into a single WindowExec behind a
  single Exchange.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from recipys_spark.functions.text import token_count
from recipys_spark.ingredients import Ingredients
from recipys_spark.operators.base import Step
from recipys_spark.selector import Selector


def assemble_context(
    df: DataFrame,
    budget: int,
    conv_col: str = "conv_id",
    order_cols=("turn_idx",),
    text_col: str = "text",
    sep: str = "\n",
    max_turns: Optional[int] = 64,
    out_col: str = "context",
    skew_bucket_size: Optional[int] = None,
    rows_per_bucket: int = 100_000,
) -> DataFrame:
    """Append per-turn context columns, point-in-time correct:

    - ``{out_col}``: the texts of the kept prior turns, oldest→newest,
      joined with ``sep`` ('' when no prior turn fits);
    - ``{out_col}_n_turns`` / ``{out_col}_n_tokens``: how many prior
      turns / whitespace tokens the context holds.

    A prior turn s of target turn t is kept iff the token total of
    turns s..t-1 is <= ``budget`` (and t-s <= ``max_turns``): the
    most-recent contiguous suffix that fits. Tokens are the engine's
    whitespace tokens (functions/text.token_count) — swap in
    bpe_ish_token_count upstream by pre-computing a column and passing
    it via ``text_col``'s frame if a subword budget is needed.

    NULL-text contract: a NULL turn counts 0 tokens and contributes ''
    to the contexts it lands in (it keeps its separator slot, so turn
    positions stay reconstructible). Without this, one NULL token count
    would make the retention predicate NULL and silently EMPTY every
    context that window touches.

    ``skew_bucket_size`` (sequence units, the functions/skew.py
    convention) switches to the SALTED two-phase plan for monster
    conversations: the plain plan's per-row state is bounded, but the
    whole conversation still sorts through ONE window task. The salted
    plan row-buckets each conversation (decomposable row number),
    copies each bucket the previous bucket's last ``max_turns`` rows as
    carry donors, runs the identical window expressions per
    (conv, bucket) —
    the retention predicate only reads cum DIFFERENCES, so local
    per-bucket running sums are offset-free — and drops the carry
    rows. Bit-identical to the plain plan (pytest-pinned); requires a
    finite ``max_turns`` (the carry bound) and a single order column.
    """
    if budget < 0:
        raise ValueError("budget must be >= 0")
    if max_turns is not None and max_turns < 1:
        raise ValueError("max_turns must be >= 1 (or None for unbounded)")
    out_cols = [out_col, f"{out_col}_n_turns", f"{out_col}_n_tokens"]
    collisions = sorted(set(out_cols) & set(df.columns))
    if collisions:
        raise ValueError(
            f"context output column(s) {collisions} already exist in the "
            "input; pass a different out_col"
        )
    if skew_bucket_size is not None:
        if max_turns is None:
            raise ValueError(
                "the salted plan needs a finite max_turns (it bounds the "
                "carry rows each bucket copies)"
            )
        if len(list(order_cols)) != 1:
            raise ValueError("the salted plan supports a single order column")
        from recipys_spark.functions.skew import bucketable

        seq_dtype = dict(df.dtypes)[list(order_cols)[0]]
        if not bucketable(seq_dtype):
            raise ValueError(
                "the salted plan buckets by the order column numerically; "
                f"order column dtype {seq_dtype!r} has no numeric bucket "
                "form (the plain plan sorts any orderable type)"
            )
    order = list(order_cols)
    tok = "__ctx_tok"
    cum = "__ctx_cum"
    base_cols = list(df.columns)
    safe_tok = F.when(
        F.col(text_col).isNull(), F.lit(0).cast("long")
    ).otherwise(token_count(F.col(text_col)).cast("long"))
    frame = df.withColumn(tok, safe_tok)

    if skew_bucket_size is None:
        run = (
            Window.partitionBy(conv_col)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        lo = Window.unboundedPreceding if max_turns is None else -int(max_turns)
        prior = (
            Window.partitionBy(conv_col).orderBy(*order).rowsBetween(lo, -1)
        )
        keep_pred = None
    else:
        from recipys_spark.functions.skew import carry_buckets

        mt = int(max_turns)
        frame = carry_buckets(
            frame, [conv_col], order[0], int(skew_bucket_size),
            int(rows_per_bucket), mt,
        )
        # local running sum per (conv, bucket): the retention predicate
        # only reads cum DIFFERENCES of rows <= max_turns apart, which
        # always share a (bucket + carry) partition — offsets cancel
        run = (
            Window.partitionBy(conv_col, "__rbkt")
            .orderBy("__rid")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        prior = (
            Window.partitionBy(conv_col, "__rbkt")
            .orderBy("__rid")
            .rowsBetween(-mt, -1)
        )
        keep_pred = F.col("__carry") == 0

    frame = frame.withColumn(cum, F.sum(tok).over(run))
    arr = F.collect_list(
        F.struct(
            F.col(cum).alias("c"),
            F.col(tok).alias("t"),
            F.coalesce(F.col(text_col), F.lit("")).alias("x"),
        )
    ).over(prior)
    # Materialize the collected-prior array ONCE: referencing `arr`
    # from each of the three output expressions would re-instantiate
    # the window expression per withColumn — Catalyst planned THREE
    # WindowExec collect_list passes, each copying the (c, t, text)
    # structs into its own sliding buffer (measured in plans/r07/
    # assemble_context_before.txt, windows 10/12/14).
    frame = frame.withColumn("__ctx_arr", arr)
    prior_cum = F.col(cum) - F.col(tok)  # running total through turn t-1
    kept = F.filter(
        F.col("__ctx_arr"),
        lambda s: (prior_cum - (s["c"] - s["t"])) <= F.lit(int(budget)),
    )
    # Interpreted HOFs get no cross-expression CSE, so bind the kept
    # suffix once as a lambda variable (the ngram/chunk_documents
    # pattern) and derive all three outputs inside ONE struct; inline()
    # is a Generate node, so CollapseProject cannot re-substitute the
    # filter into each field read. One filter evaluation per row
    # instead of three.
    res = F.inline(
        F.transform(
            F.array(kept),
            lambda kept_b: F.struct(
                F.array_join(
                    F.transform(kept_b, lambda s: s["x"]), sep
                ).alias(out_col),
                F.size(kept_b).cast("long").alias(f"{out_col}_n_turns"),
                F.aggregate(
                    kept_b, F.lit(0).cast("long"), lambda acc, s: acc + s["t"]
                ).alias(f"{out_col}_n_tokens"),
            ),
        )
    )
    out = frame.select("*", res)
    if keep_pred is not None:
        out = out.where(keep_pred)
    return out.select(
        *base_cols,
        out_col,
        f"{out_col}_n_turns",
        f"{out_col}_n_tokens",
    )


def conversation_text(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_cols=("turn_idx",),
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Roll a transcript up to one row per conversation:
    (conv_col, text, n_turns) with turns joined oldest→newest — the
    conversation-granularity input for the dedup tier (exact_dedup /
    minhash on whole conversations instead of single turns). One
    groupBy shuffle; the in-group order is made explicit by sorting the
    collected (order, text) structs, so the result is partitioning-
    independent."""
    order = list(order_cols)
    # NULL text → '' BEFORE the join: array_join silently DROPS null
    # elements (losing the turn's separator slot); same contract as
    # assemble_context
    pairs = F.array_sort(
        F.collect_list(
            F.struct(
                *[F.col(c) for c in order],
                F.coalesce(F.col(text_col), F.lit("")).alias("__x"),
            )
        )
    )
    return df.groupBy(conv_col).agg(
        F.array_join(F.transform(pairs, lambda s: s["__x"]), sep).alias(text_col),
        F.count(F.lit(1)).alias("n_turns"),
    )


class StepAssembleContext(Step):
    """Recipe-step form of :func:`assemble_context`: conv/order come
    from the recipe's group and sequence roles, the text column from
    the selector (exactly one). Stateless (no fit) — bake on unseen
    conversations runs the same expressions; the prior-rows-only frame
    IS the leakage guarantee."""

    _row_preserving = True

    def __init__(
        self,
        sel: Selector,
        budget: int,
        sep: str = "\n",
        max_turns: Optional[int] = 64,
        out_col: str = "context",
        role: str = "predictor",
        skew_bucket_size: Optional[int] = None,
        rows_per_bucket: int = 100_000,
    ) -> None:
        super().__init__(sel)
        if budget < 0:
            raise ValueError("budget must be >= 0")
        self.budget = int(budget)
        self.sep = sep
        self.max_turns = max_turns
        self.out_col = out_col
        self.role = role
        # when set, the salted two-phase plan spreads a monster
        # conversation across buckets instead of one window task
        self.skew_bucket_size = skew_bucket_size
        self.rows_per_bucket = int(rows_per_bucket)
        # NOT pre-trained: fit() must still run once to resolve the
        # selector and the group/sequence roles (do_fit itself is a
        # no-op — there is no fitted state, so bake ≡ prep)
        self.desc = f"Assemble {budget}-token context from prior turns"

    def new_column_roles(self) -> dict[str, str]:
        return {
            self.out_col: self.role,
            f"{self.out_col}_n_turns": self.role,
            f"{self.out_col}_n_tokens": self.role,
        }

    def do_fit(self, ingredients: Ingredients) -> None:  # stateless
        return None

    def skew_sequence(self, ingredients: Ingredients) -> Optional[str]:
        """The single numeric or temporal order column, when the carry
        bound holds (a finite ``max_turns`` within ``rows_per_bucket``).
        A string order column has no bucket form, so the advisor never
        salts one and a hand-set bucket on one fails at plan build."""
        from recipys_spark.functions.skew import bucketable

        seqs = self._sequence_roles(ingredients)
        if (
            self.max_turns is None
            or len(seqs) != 1
            or int(self.max_turns) > self.rows_per_bucket
            or not bucketable(ingredients.dtypes[seqs[0]])
        ):
            return None
        return seqs[0]

    def do_transform(self, ingredients: Ingredients):
        if len(self.columns) != 1:
            raise ValueError(
                "StepAssembleContext needs exactly one selected text "
                f"column, got {self.columns}"
            )
        if not self.group_columns:
            raise ValueError(
                "StepAssembleContext requires a group role (conv_id)"
            )
        if not self.sequence_columns:
            raise ValueError(
                "StepAssembleContext requires a sequence role (turn order)"
            )
        conv = self.group_columns
        if len(conv) != 1:
            raise ValueError("StepAssembleContext supports one group column")
        return assemble_context(
            ingredients.df,
            budget=self.budget,
            conv_col=conv[0],
            order_cols=self.sequence_columns,
            text_col=self.columns[0],
            sep=self.sep,
            max_turns=self.max_turns,
            out_col=self.out_col,
            skew_bucket_size=self.skew_bucket_size,
            rows_per_bucket=self.rows_per_bucket,
        )

    def get_state(self) -> dict:
        return {
            "columns": self.columns,
            "budget": self.budget,
            "sep": self.sep,
            "max_turns": self.max_turns,
            "out_col": self.out_col,
            "skew_bucket_size": self.skew_bucket_size,
            "rows_per_bucket": self.rows_per_bucket,
        }

    def set_state(self, state: dict) -> None:
        self.columns = state["columns"]
        self.budget = state["budget"]
        self.sep = state["sep"]
        self.max_turns = state["max_turns"]
        self.out_col = state["out_col"]
        # older manifests (pre-round-5 review) lack the skew fields
        self.skew_bucket_size = state.get("skew_bucket_size")
        self.rows_per_bucket = state.get("rows_per_bucket", 100_000)
        self._trained = True
