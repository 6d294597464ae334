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
def audit():
    spec = importlib.util.spec_from_file_location("explain_audit", _PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.audit


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
