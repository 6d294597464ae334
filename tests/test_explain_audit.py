"""scripts/explain_audit.audit on canned physical-plan strings (no
Spark): node names are counted whole, from the start of a plan line."""

import importlib.util
import os

import pytest

_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts", "explain_audit.py",
)


@pytest.fixture(scope="module")
def script():
    spec = importlib.util.spec_from_file_location("explain_audit", _PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def audit(script):
    return script.audit


# row_number() top-k: one Window over two WindowGroupLimit nodes
TOPK = """\
AdaptiveSparkPlan isFinalPlan=false
+- Filter (rn#33 <= 2)
   +- Window [row_number() windowspecdefinition(k#1L, v#2 ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS rn#33], [k#1L], [v#2 ASC NULLS FIRST]
      +- WindowGroupLimit [k#1L], [v#2 ASC NULLS FIRST], row_number(), 2, Final
         +- Sort [k#1L ASC NULLS FIRST, v#2 ASC NULLS FIRST], false, 0
            +- Exchange hashpartitioning(k#1L, 4), ENSURE_REQUIREMENTS, [plan_id=190]
               +- WindowGroupLimit [k#1L], [v#2 ASC NULLS FIRST], row_number(), 2, Partial
                  +- Sort [k#1L ASC NULLS FIRST, v#2 ASC NULLS FIRST], false, 0
                     +- FileScan parquet [k#1L,v#2] Batched: true, PushedFilters: [], ReadSchema: struct<k:bigint,v:double>
"""

# exact median: repartition + sort, then one mapInArrow
MEDIAN = """\
AdaptiveSparkPlan isFinalPlan=false
+- MapInArrow _median_body(user_id#0L, ts#1, value#2)#40, [user_id#41L, ts#42, value_median#43], false
   +- Sort [user_id#0L ASC NULLS FIRST, ts#1 ASC NULLS FIRST], false, 0
      +- Exchange hashpartitioning(user_id#0L, 4), REPARTITION_BY_COL, [plan_id=55]
         +- FileScan parquet [user_id#0L,ts#1,value#2] Batched: true, PushedFilters: [], ReadSchema: struct<user_id:bigint,ts:timestamp,value:double>
"""

# Python nodes of several kinds, a broadcast join (its BroadcastExchange
# is not a shuffle), codegen stages, an "!" marker and pushed filters
MIXED = """\
AdaptiveSparkPlan isFinalPlan=false
+- FlatMapGroupsInArrow [k#1L], <lambda>(k#1L, v#2)#16, [k#17L, v#18]
   +- Sort [k#1L ASC NULLS FIRST], false, 0
      +- Exchange hashpartitioning(k#1L, 4), ENSURE_REQUIREMENTS, [plan_id=93]
         +- !ArrowAggregatePython [k#1L], [agg(v#2)#25], [k#1L, agg(v#2)#25#26 AS agg(v)#29], 202
            +- *(2) Project [pythonUDF0#35 AS pu(v)#4, k#1L, v#2]
               +- ArrowEvalPython [pu(v#2)#3], [pythonUDF0#35], 200
                  +- *(1) BroadcastHashJoin [k#1L], [k#9L], Inner, BuildRight, false
                     :- *(1) Filter isnotnull(k#1L)
                     :  +- FileScan parquet [k#1L,v#2] Batched: true, PushedFilters: [IsNotNull(k)], ReadSchema: struct<k:bigint,v:double>
                     +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=80]
                        +- FileScan parquet [k#9L] Batched: true, PushedFilters: [], ReadSchema: struct<k:bigint>
"""


def test_window_group_limit_is_not_a_window(audit):
    a = audit(TOPK)
    assert a["windows"] == 1
    assert a["exchanges"] == 1 and a["python"] == 0 and not a["pushed"]


def test_map_in_arrow_is_a_python_stage(audit):
    a = audit(MEDIAN)
    assert a["python"] == 1
    assert a["windows"] == 0 and a["exchanges"] == 1


def test_mixed_plan_counts(audit):
    a = audit(MIXED)
    assert a["python"] == 3
    assert a["exchanges"] == 1  # BroadcastExchange is not a shuffle
    assert a["bhj"] == 1 and a["smj"] == 0
    assert a["codegen_spans"] == 2
    assert a["pushed"]


# the status store's formatted description of an executed windowed query
# (noop sink): codegen ran per query stage of the Final Plan, so its
# nodes carry codegen ids; the Initial Plan's never went through codegen
# (node 14 is given one here to show the Initial Plan is not counted)
EXECUTED = """\
== Physical Plan ==
OverwriteByExpression (14)
+- AdaptiveSparkPlan (13)
   +- == Final Plan ==
      ResultQueryStage (8), Statistics(sizeInBytes=8.0 EiB)
      +- * Project (7)
         +- Window (6)
            +- * Sort (5)
               +- ShuffleQueryStage (4), Statistics(sizeInBytes=625.0 KiB, rowCount=1.00E+4)
                  +- Exchange (3)
                     +- * ColumnarToRow (2)
                        +- Scan parquet  (1)
   +- == Initial Plan ==
      Project (12)
      +- Window (11)
         +- Sort (10)
            +- Exchange (9)
               +- Scan parquet  (1)


(1) Scan parquet 
Output [3]: [user_id#2L, ts#1, value#4]
ReadSchema: struct<user_id:bigint,ts:timestamp_ntz,value:double>

(2) ColumnarToRow [codegen id : 1]
Input [3]: [user_id#2L, ts#1, value#4]

(3) Exchange
Arguments: hashpartitioning(user_id#2L, 2), ENSURE_REQUIREMENTS, [plan_id=43]

(4) ShuffleQueryStage
Arguments: 0

(5) Sort [codegen id : 2]
Arguments: [user_id#2L ASC NULLS FIRST, ts#1 ASC NULLS FIRST], false, 0

(6) Window
Arguments: [count(value#4) windowspecdefinition(...) AS _we0#13L], [user_id#2L], [ts#1 ASC NULLS FIRST]

(7) Project [codegen id : 3]
Output [4]: [user_id#2L, ts#1, value#4, _we0#13L AS value_count#8]

(8) ResultQueryStage
Arguments: 1

(9) Exchange
Arguments: hashpartitioning(user_id#2L, 2), ENSURE_REQUIREMENTS, [plan_id=22]

(10) Sort [codegen id : 7]
Arguments: [user_id#2L ASC NULLS FIRST, ts#1 ASC NULLS FIRST], false, 0

(11) Window
Arguments: [count(value#4) windowspecdefinition(...) AS _we0#13L], [user_id#2L], [ts#1 ASC NULLS FIRST]

(12) Project
Output [4]: [user_id#2L, ts#1, value#4, _we0#13L AS value_count#8]

(13) AdaptiveSparkPlan
Arguments: isFinalPlan=true

(14) OverwriteByExpression
Arguments: NoopWrite
"""


# a shuffle-free query: no adaptive sections, every node ran
PROJECT_ONLY = """\
== Physical Plan ==
* Project (3)
+- * ColumnarToRow (2)
   +- Scan parquet  (1)


(1) Scan parquet 
Output [1]: [v#0]

(2) ColumnarToRow [codegen id : 1]
Input [1]: [v#0]

(3) Project [codegen id : 1]
Output [1]: [(v#0 + 1.0) AS w#1]
"""


def test_codegen_spans_read_the_aqe_final_plan(script):
    """Three codegen spans ran (scan side, sort, final project) and the
    Initial Plan's node is not counted; a plan without adaptive
    sections counts all its nodes."""
    assert script.executed_codegen_spans(EXECUTED) == 3
    assert script.executed_codegen_spans(PROJECT_ONLY) == 1
