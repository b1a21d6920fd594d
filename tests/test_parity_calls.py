"""Each declared query must run the library operator PARITY.md maps it to.

The duckdb oracle only vouches for the code a query actually calls: a
query that re-implements its operator inline leaves the shipped operator
unchecked. Building the query (no collect) with the operator wrapped in
a call-recording spy proves the query goes through it.
"""

from __future__ import annotations

from unittest import mock

import pytest

from stream_processing_platform_spark.operators import ann, dedup, joins
from stream_processing_platform_spark.registry import queries

CASES = [
    ("q_join_interval", joins, "interval_join"),
    ("q_join_asof", joins, "as_of_join"),
    ("q_simhash_pairs", dedup, "simhash_pairs"),
    ("q_embedding_near_dup", dedup, "hyperplane_lsh_pairs"),
    ("q_semdedup", dedup, "semantic_dedup"),
    ("q_semdedup_incremental", dedup, "incremental_semantic_dedup"),
    ("q_ann_pq", ann, "_encode_codes"),
    ("q_ann_ivf", ann, "_assign_cells"),
]


@pytest.mark.parametrize("name,module,fn", CASES, ids=[c[0] for c in CASES])
def test_query_calls_its_parity_operator(spark, sf_dir, name, module, fn):
    with mock.patch.object(module, fn, wraps=getattr(module, fn)) as spy:
        queries()[name](spark, sf_dir)
    assert spy.called, f"{name} never calls {module.__name__}.{fn}"
