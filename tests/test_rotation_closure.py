"""Unit tests for the rotation tool's static closure (tools/rotate_registry)
— the fingerprint engine behind the freshness gate. These pin the
precision properties the r11 rotation relied on:

- module-level AND function-body (inline, parenthesized-multiline)
  imports are followed;
- referenced same-module defs/constants join the closure, unreferenced
  ones don't (a window.py edit must flag global_rank callers, not topk
  callers);
- oracle SQL participates in the gate fingerprint;
- the real registry: every gate's fingerprint is computable and the
  known dependency shapes hold (the 13 global_rank/global_cumsum
  dependents reach _bucket_assignment; streaming wrapper gates carry
  the shallow _narrow_shuffle entry instead of a whole-package chase,
  plus the state-width rule it imports).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from rotate_registry import (  # noqa: E402
    PKG,
    Closure,
    gate_closure,
    gate_fingerprints,
)


def _closure_of(gate_name: str):
    from m13_sparkstreaming_python_azure_spark.queries import registry

    fn = registry.QUERIES[gate_name]
    inner = getattr(fn, "__wrapped__", fn)
    return Closure().closure(
        inner.__module__, inner.__qualname__.split(".")[0]
    )


def test_window_dependents_reach_bucket_assignment():
    # record_linkage reaches it through an inline MULTILINE parenthesized
    # import of operators.linkage (the exact shape the first regex missed)
    for gate in ("roc_auc", "rfm_segments", "record_linkage"):
        c = _closure_of(gate)
        assert f"{PKG}.operators.window:_bucket_assignment" in c, gate


def test_non_dependents_do_not_reach_bucket_assignment():
    for gate in ("pricing_summary", "topk_orders", "json_functions"):
        c = _closure_of(gate)
        assert f"{PKG}.operators.window:_bucket_assignment" not in c, gate


def test_wrapped_gates_fingerprint_narrow_shuffle_shallowly():
    """The word-scan closure on _narrow_shuffle once chased the word
    'QUERIES' in a comment into the whole package — wrapped gates must
    carry only the shallow wrapper-source entry."""
    from m13_sparkstreaming_python_azure_spark.queries import registry

    fn = registry.QUERIES["streaming_dedup"]
    assert hasattr(fn, "__wrapped__")
    inner = fn.__wrapped__
    c = Closure().closure(inner.__module__, inner.__qualname__.split(".")[0])
    # the gate's own closure must stay well under whole-package size
    assert len(c) < 200, len(c)


def test_state_width_rule_reaches_every_gate_it_sizes():
    """A change to the engine's state-width rule must drift every gate
    whose streams it sizes: the wrapped gates through the inline import
    in _narrow_shuffle, streaming_daily_stats through
    StreamingAggPipeline, streaming_transform_with_state directly."""
    from m13_sparkstreaming_python_azure_spark.queries import registry

    cl = Closure()
    rule = f"{PKG}.session:state_partitions"
    sized = [*registry._STREAMING_GATES, "streaming_transform_with_state"]
    for gate in sized:
        assert rule in gate_closure(cl, gate, registry.QUERIES[gate]), gate
    for gate in ("pricing_summary", "snapshot_commit_group"):
        assert rule not in gate_closure(cl, gate, registry.QUERIES[gate])


def test_oracle_sql_changes_the_fingerprint():
    fps, _head = gate_fingerprints()
    from m13_sparkstreaming_python_azure_spark.queries import registry

    orig = registry.ORACLES["pricing_summary"]
    registry.ORACLES["pricing_summary"] = orig + " -- perturbed"
    try:
        fps2, _ = gate_fingerprints()
    finally:
        registry.ORACLES["pricing_summary"] = orig
    assert fps2["pricing_summary"] != fps["pricing_summary"]
    assert fps2["topk_orders"] == fps["topk_orders"]


def test_every_gate_has_a_computable_fingerprint():
    fps, head = gate_fingerprints()
    from m13_sparkstreaming_python_azure_spark.queries import registry

    assert set(fps) == set(registry.QUERIES)
    assert len(head) == 50
    assert all(len(v) == 64 for v in fps.values())
