"""localCheckpoint growth gate over every checkpointing query (the
r11 audit, frozen as a regression test — verdict r10 #1, the last
frame class to move from asserted to measured).

A ``localCheckpoint`` pins its frame in the executors' block managers
(memory spilling to local disk) — that is the point of lineage
cutting, but it is also a standing storage cost at 100 TB. Every
checkpointed frame must therefore be one of:

* BOUNDED — O(k) rows at any scale (offsets frames, label tables,
  survivor curves over a value domain). Gate: max checkpointed frame
  grows ≤ 3x across the 10x data step, or stays under the absolute
  floor where growth is moot.
* DATA-SIZED BY DESIGN — a deliberately materialized O(data)
  reduction reused by 2+ consumers or an iterative fixpoint, priced
  in SCALING.md round 11. Gate: still present in the registry below
  WITH its rationale, and growth stays ~LINEAR (≤ 12x per 10x step):
  the r11 audit found `text_dedup_threshold_sweep` pinning an exact
  PAIR table that grew 98x per step — superlinear frames are a
  defect even in this class (that one had a single consumer and is
  now collapsed to a per-doc max before the sweep).

The records come from the session-scoped ``scale_capture`` fixture
(the ``checkpoint`` probe of ``tools/scale_audit.py``: a spy on the
concrete classic ``DataFrame.localCheckpoint`` — Spark 4 dispatches
through the subclass). Growth compares each query's MAX
checkpointed frame across scales rather than call-by-call: adaptive
fixpoints legitimately run different round counts per scale, so
per-index alignment is meaningless for them (graph_bfs_distances ran
24 rounds at sf0.01 and 6 at sf0.1 in the r11 audit).

Its cost is one count per checkpointed frame per scale inside the
shared two-scale capture.
"""

from __future__ import annotations

import pytest
import scale_audit as S
from conftest import SCALE_BIG as BIG, SCALE_SMALL as SMALL
# r14 (verdict r13 #2): registry-wide measured audit — deselected from
# the default (driver-verify) tier; run with -m "slow or not slow".
pytestmark = pytest.mark.slow

RATIO_BOUNDED = 3.0
RATIO_LINEAR = 12.0  # 10x data + slack; superlinear pinning fails
ABS_FLOOR = 1000  # rows at BIG below which growth is moot

# query -> why its checkpointed frame is allowed to scale with data.
# Every entry is a deliberate O(data) lineage cut measured in the r11
# audit (SCALING.md round 11): rows+bytes at sf0.01/sf0.1, all ~10x
# (linear), 785 MB total pinned at sf0.1. An entry here still fails
# the gate if it turns SUPERLINEAR (> RATIO_LINEAR).
DATA_SIZED_BY_DESIGN = {
    "agg_bloom_filter_pinned": "set-bit list saturates at _BF_M=65536 (grows toward the cap, 32k at sf0.1)",
    "agg_ddsketch_merge_proof": "value sample reused by shard AND full-reduce proof arms",
    "basket_association_rules": "deduped (order,brand) incidence feeds 4 consumers (n, singles, both pair sides)",
    "dedup_clusters": "pointer-jumping CC label frames, one per round (512 rows at sf0.1 — listed for the class, not the size)",
    "dedup_simhash_pairs": "fingerprint table reused by all band projections",
    "events_peak_concurrency": "O(sessions) bounds + sweep frames feed 4 consumers (both sweep branches, n, peak probe)",
    "finance_price_index_fisher": "monthly base slice reused by all years (Fisher needs both L and P arms)",
    "finance_price_index_laspeyres": "monthly base slice reused by all years",
    "graph_assortativity": "sparsified co-purchase edge list reused by degree + both endpoints",
    "graph_bfs_distances": "edge list reused every BFS round (fixpoint)",
    "graph_clustering_coefficient": "edge list reused by degree + both wedge sides",
    "graph_link_prediction": "incidence + sparsified edges reused by wedge join, anti join, degrees",
    "graph_link_prediction_capped": "same incidence/edge cuts as the uncapped twin; the K-capped edge list additionally pins ≤ K rows/vertex (sub-linear once degrees exceed K — linear here only because fixture degrees are still < K)",
    "graph_modularity": "edge list reused by degree table + community join",
    "ml_logistic_regression_gd": "feature matrix rescanned every GD round",
    "ml_naive_bayes_langid": "doc-term counts feed model, lang totals, and vocab",
    "ml_weibull_survival_fit": "per-order durations feed survivor curve AND n_orders",
    "multimodal_phash_dedup_pairs": "pHash fingerprint table reused by band projections",
    "pipeline_dedup_survivors": "CC label frames per round (same class as dedup_clusters)",
    "pipeline_incremental_dedup": "batch posting table reused by join + carry-forward",
    "pipeline_release_gate": "per-doc quality frame reused by gate arms",
    "recsys_item_cooccurrence": "deduped (order,part) incidence feeds degree + both self-join sides",
    "stats_exponential_gaps_fit": "inter-arrival gaps reused by rate fit AND KS distance",
    "stats_poisson_gof": "per-window counts reused by stats AND histogram",
    "text_cooccurrence_pmi": "token table reused by unigram and pair counts",
    "text_dedup_threshold_sweep": "token/shingle tables reused by sizes + posting build (pair table NOT pinned since r11)",
    "text_distinct_ngram_diversity": "token arrays reused by n-gram unfolds",
    "text_idf_weighted_jaccard": "shingle table reused by df weights + posting build",
    "text_ngram_novelty_ratio": "token arrays reused by two n-gram unfolds",
    "text_train_eval_perplexity": "token positions reused by vocab, bigram sides, eval join",
}


def test_no_unpriced_data_sized_checkpoints(scale_capture):
    a = scale_capture[SMALL]["checkpoint"]
    b = scale_capture[BIG]["checkpoint"]

    violations = []
    for name in sorted(set(a) & set(b)):
        xs = [r for r, _ in a[name] if r >= 0]
        ys = [r for r, _ in b[name] if r >= 0]
        if not xs or not ys:
            continue
        x, y = max(xs), max(ys)
        ratio = S.growth(x, y)
        if name in DATA_SIZED_BY_DESIGN:
            if S.grows(x, y, RATIO_LINEAR, ABS_FLOOR):
                violations.append(
                    f"{name}: registered data-sized checkpoint grew "
                    f"{x} → {y} rows ({ratio:.1f}x) across a 10x data "
                    "step — SUPERLINEAR pinning (the "
                    "text_dedup_threshold_sweep class, 98x/step): "
                    "collapse the frame before pinning or drop the "
                    "checkpoint"
                )
        elif S.grows(x, y, RATIO_BOUNDED, ABS_FLOOR):
            violations.append(
                f"{name}: checkpointed frame grew {x} → {y} rows "
                f"({ratio:.1f}x) across a 10x data step without a "
                "DATA_SIZED_BY_DESIGN entry — either the frame should "
                "be collapsed before pinning, or register it with its "
                "lineage-cutting rationale and the executor-disk "
                "budget (SCALING.md round 11)"
            )
    assert not violations, (
        "unpriced/superlinear localCheckpoints:\n" + "\n".join(violations)
    )


def test_data_sized_registry_names_are_real():
    """Every registry entry must still be a registered query that
    actually checkpoints — a renamed or de-checkpointed query leaves
    a stale exemption that would silently cover a future frame."""
    import __spark_entry__ as m

    ghosts = sorted(set(DATA_SIZED_BY_DESIGN) - set(m.queries()))
    assert not ghosts, f"DATA_SIZED_BY_DESIGN lists unknown queries: {ghosts}"
