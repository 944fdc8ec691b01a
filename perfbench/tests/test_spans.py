"""Helpers behind the materialization guard, and the percentile rule."""

from collections import Counter

from common import percentile
from spans import plan_operators

# optimized plans as Spark 4.1 prints them: a grouped, sorted query, its
# noop write, and the plan a count() over the same query optimizes to
QUERY = """Sort [g#1L ASC NULLS FIRST], true
+- Aggregate [g#1L], [g#1L, sum(id#0L) AS s#2L]
   +- Project [id#0L, (id#0L % 7) AS g#1L]
      +- Range (0, 100000, step=1, splits=Some(4))
"""
NOOP_WRITE = """OverwriteByExpression RelationV2[] noop-table, true, true, NoopWrite, Sort [g#1L ASC NULLS FIRST], true
+- Sort [g#1L ASC NULLS FIRST], true
   +- Aggregate [g#1L], [g#1L, sum(id#0L) AS s#2L]
      +- Project [id#0L, (id#0L % 7) AS g#1L]
         +- Range (0, 100000, step=1, splits=Some(4))
"""
COUNT = """Aggregate [count(1) AS count#9L]
+- Aggregate [g#1L], [g#1L]
   +- Project [(id#0L % 7) AS g#1L]
      +- Range (0, 100000, step=1, splits=Some(4))
"""


def test_plan_operators_counts_each_node():
    assert plan_operators(QUERY) == Counter(Sort=1, Aggregate=1, Project=1, Range=1)


def test_noop_write_keeps_every_operator():
    assert not plan_operators(QUERY) - plan_operators(NOOP_WRITE)


def test_count_style_pruning_is_caught():
    assert plan_operators(QUERY) - plan_operators(COUNT) == Counter(Sort=1)


def test_plan_operators_reads_subquery_and_union_branches():
    tree = """Union false, false
:- Project [a#1]
:  +- Filter (a#1 > scalar-subquery#5 [])
:     :  +- Aggregate [max(b#2) AS m#4]
:     :     +- LocalRelation [b#2]
:     +- LocalRelation [a#1]
+- LocalRelation [a#3]
"""
    assert plan_operators(tree) == Counter(
        Union=1, Project=1, Filter=1, Aggregate=1, LocalRelation=3
    )


def test_tail_percentile_needs_ten_samples_beyond_it():
    xs = [float(i) for i in range(100)]
    assert percentile(xs, 50) == 49.5
    assert percentile(xs, 90) is not None
    assert percentile(xs, 99) is None
    assert percentile([1.0, 2.0, 3.0], 50) == 2.0
