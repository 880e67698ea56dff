#!/usr/bin/env python
"""HISTORICAL (r7 artifact): computed the r8 gate rotation that was then
executed in `__spark_entry__._HEAD`. Its r9-r13 successor, the
generalized planner behind the rotation staleness gate, has been retired
with that gate; this script's
SINGLE_R6 list and top-up logic are frozen to the r7 evidence and will
NOT produce a correct head after CORRECTNESS_r08 lands.

Original docstring: Compute the r8 gate rotation from recorded evidence
(no arithmetic by hand): prints the r8 head (exactly 50) and the new
`_DEFERRED` ordering.

Plan recorded in BASELINE.md "Round-7 definitive final tally":
  r8 head = every never-rowed query (first driver rows) + refreshes
  prioritizing the single-r6-row queries, topped up with the oldest
  double-green deferrals in current `_DEFERRED` order.

Run AFTER the r7 driver round lands CORRECTNESS_r07.json; the script
only uses CORRECTNESS files + the live registry, so late additions are
picked up automatically.
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402

HEAD_SIZE = 50
# queries whose ONLY driver row is r6 (refresh priority after first-rows)
SINGLE_R6 = [
    "dedup_star_components", "kmeans_clusters", "cluster_balanced_sample",
    "text_clean", "pii_redaction", "knn_ivf_trained",
    "ranked_retrieval_bm25", "span_dedup", "semantic_dedup", "dsir_weights",
    "hybrid_retrieval", "triangle_count", "bigram_logprob", "event_funnel",
]


def main() -> int:
    q = list(entry.queries())
    rowed: set[str] = set()
    for f in sorted(glob.glob("CORRECTNESS_r*.json")):
        rowed |= set(json.load(open(f)))
    never = [k for k in q if k not in rowed]
    head = list(dict.fromkeys(never + SINGLE_R6))[:HEAD_SIZE]
    if len(head) < HEAD_SIZE:
        # top up with the oldest deferrals in current order
        for k in entry._DEFERRED:
            if k not in head:
                head.append(k)
            if len(head) == HEAD_SIZE:
                break
    deferred = [k for k in q if k not in head]
    print(json.dumps({
        "head_n": len(head),
        "head": head,
        "deferred_n": len(deferred),
        "never_rowed_n": len(never),
    }, indent=2))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
