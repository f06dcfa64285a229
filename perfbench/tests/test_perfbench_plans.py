"""Node and exchange counts of executed plans' tree strings."""

from tracer import plan_counts

ADAPTIVE = """\
OverwriteByExpression org.apache.spark.sql.execution.datasources.noop.NoopTable$@1, [AlwaysTrue()]
+- AdaptiveSparkPlan isFinalPlan=true
   +- == Final Plan ==
      +- *(2) HashAggregate(keys=[n_name#3], functions=[sum(x#1)])
         +- AQEShuffleRead coalesced
            +- ShuffleQueryStage 0
               +- Exchange hashpartitioning(n_name#3, 32), ENSURE_REQUIREMENTS, [plan_id=9]
                  +- *(1) BroadcastHashJoin [a#1], [b#2], Inner, BuildRight, false
                     :- *(1) ColumnarToRow
                     :  +- FileScan parquet [a#1] Batched: true
                     +- BroadcastQueryStage 1
                        +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=7]
                           +- FileScan parquet [b#2] Batched: true
   +- == Initial Plan ==
      HashAggregate(keys=[n_name#3], functions=[sum(x#1)])
      +- Exchange hashpartitioning(n_name#3, 32), ENSURE_REQUIREMENTS, [plan_id=5]
         +- SortMergeJoin [a#1], [b#2], Inner
            :- Sort [a#1 ASC NULLS FIRST], false, 0
            :  +- Exchange hashpartitioning(a#1, 32), ENSURE_REQUIREMENTS, [plan_id=3]
            :     +- FileScan parquet [a#1] Batched: true
            +- FileScan parquet [b#2] Batched: true
"""


def test_adaptive_plan_counts_only_the_final_plan():
    # 12 nodes above the initial plan; Exchange and BroadcastExchange
    assert plan_counts(ADAPTIVE) == (12, 2)


def test_plain_plan_counts_every_node():
    tree = "*(1) Project [a#1]\n+- *(1) Filter (a#1 > 0)\n   +- FileScan parquet [a#1]\n"
    assert plan_counts(tree) == (3, 0)
