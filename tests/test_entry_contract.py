"""Guards on the driver contract in __spark_entry__.py.

The driver imports ``entry``, ``queries`` and ``oracle_sql`` from it, and
both maps come from ``big_data_toolkit_spark.registry``. These tests keep
the registration surface, its oracle coverage and the benchmark's view of
it from regressing silently.
"""

from __future__ import annotations

import __spark_entry__ as entry


def test_registry_shape():
    q = entry.queries()
    o = entry.oracle_sql()
    assert len(q) >= 50
    # every oracle key corresponds to a registered query
    assert set(o) <= set(q)
    # rows-only queries are the documented by-design sketch/sequential set
    assert set(q) - set(o) == {
        "sgd_train",
        "sgd_score",
        "event_reach_approx",
        "order_fulfillment_percentiles_approx",
        "weekly_reach_from_sketches",
        "audience_overlap_approx",
    }


def test_perfbench_workloads_resolve_in_registry(monkeypatch):
    """perfbench/workloads.py names engine queries by registry name and
    artifact writers by their ``plans.materialize`` attribute; every one
    must resolve, or the benchmark fails on a missing name."""
    import importlib.util
    import os
    import sys

    from big_data_toolkit_spark.plans import materialize

    path = os.path.join(
        os.path.dirname(os.path.dirname(__file__)), "perfbench", "workloads.py"
    )
    spec = importlib.util.spec_from_file_location("perfbench_workloads", path)
    workloads = importlib.util.module_from_spec(spec)
    # dataclasses resolve annotations through the module's sys.modules entry
    monkeypatch.setitem(sys.modules, spec.name, workloads)
    spec.loader.exec_module(workloads)

    q = entry.queries()
    o = entry.oracle_sql()
    for wl in workloads.WORKLOADS.values():
        for name in wl.queries:
            assert name in q and name in o, name
        for writer in wl.writers:
            assert callable(getattr(materialize, writer, None)), writer


def test_plan_budgets_pin_map_only_families():
    """PLAN_BUDGETS.json (the scripts/plan_audit.py regression gate) must
    keep the map-only families at ZERO shuffle exchanges — these operators'
    whole 100 TB story is that they scale exactly like the scan. File-only
    check; the audit script re-derives the counts from live plans."""
    import json
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                        "PLAN_BUDGETS.json")
    budgets = json.load(open(path))
    map_only = [
        "quality_score", "lang_id", "token_count", "fingerprint",
        "repetition_score", "text_clean", "pii_redaction",
        "multimodal_meta", "image_features", "video_frame_sample",
        "audio_wav_features", "image_png_features",
        "hash_sample", "chunk_documents",
    ]
    wrong = {k: budgets[k] for k in map_only if budgets[k]["shuffles"] != 0}
    assert not wrong, f"map-only queries with shuffle budgets: {wrong}"
    # and the audit covers the whole registry
    import __spark_entry__ as entry

    assert set(budgets) >= set(entry.queries()), "unbudgeted queries"
