"""Bucket-occupancy skew audit for operators/ranks call sites
(verdict r9 #3, second half: "audit the other 12 for key skew").

Value-range buckets inherit the key's distribution (ranks.py module
docstring): a heavy-tailed key concentrates rows in a few buckets and
partially recreates the single-partition sort the two-level form
exists to kill. This audit measures the REAL call sites instead of
guessing: it spies on ``ranks.with_value_buckets``, builds each
ranks-based registry query's plan through the build loop of
tools/scale_audit.py (the call sites fire at plan-build time), then
computes the actual bucket occupancy of every captured bucketed frame
at the given scale.

It is not a probe of that harness's two-scale table: its rule is a
single-scale occupancy ratio (max/mean), not growth across a step,
and it forces the two-level branch of every ``dispatch="auto"`` site,
which changes the plans the other probes would measure.

Usage: python tools/skew_audit.py [SF_DIR] [--threshold R]

Reports, per (query, key, mode): rows, buckets used, max / mean
occupancy, and the max/mean ratio — the skew number. Exits 1 if any
range-mode site exceeds the threshold (default 3.0x: at 64 buckets a
3x-mean bucket is still <5% of the data — far from a single-partition
sort — but it is the point where quantile mode's one extra aggregate
starts paying for itself). Quantile-mode sites are reported but not
gated (their occupancy is near-uniform by construction; the pytest
property in tests/test_ranks.py pins that).
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

import hivetomysql_spark.operators.ranks as ranks  # noqa: E402
import scale_audit as S  # noqa: E402
from hivetomysql_spark.session import get_spark  # noqa: E402

# every registry query that routes a global order through
# operators/ranks (the 13 rewritten in r9 plus the two hand-rolled
# two-level forms moved onto the primitives in r10; tests/
# test_global_window_bounds.py's O(buckets) class)
RANKS_QUERIES = [
    "dq_timestamp_sanity",
    "etl_surrogate_keys",
    # r11: grouped_min_rank call site — quantile mode (events.value is
    # right-skewed: mean 49.9 vs median 34.8), so the range-mode ratio
    # check exempts it; listed for spy coverage + occupancy on record
    "groupedmap_quantile_normalize",
    "pack_sequences",
    "events_mtbf_mttr",
    "events_peak_concurrency",
    "feature_ntile_binning",
    "layout_zorder_clustering",
    "ml_calibration_bins",
    "ml_lift_gains_table",
    "ml_precision_recall_curve",
    "ml_roc_auc",
    "multimodal_shard_manifest",
    "stats_exponential_gaps_fit",
    "stats_spearman_corr",
    "stream_late_data_accounting",
    # r11: the bounded-key window rewrites (grouped two-level
    # primitives — every one routes through with_value_buckets).
    # Quantile-mode sites (mann_whitney, ks_test: events.value is
    # right-skewed) are spy-covered but exempt from the range gate.
    "agg_weighted_median",
    "event_interarrival_stats",
    "event_rfm_migration_matrix",
    "orders_percentile_trend",
    "sample_balanced_classes",
    "stats_ks_test",
    "stats_mann_whitney",
    "timeseries_twap",
    "window_distribution",
    "window_pareto_frontier",
    "window_rank_ntile",
]


class Skew(S.Probe):
    name = "skew"

    def install(self, spark):
        super().install(spark)

        def bucketed(real, df, key, n_buckets=64, mode="range"):
            out = real(df, key, n_buckets, mode=mode)
            self.sites.append((key, mode, out))
            return out

        self.spy(ranks, "with_value_buckets", bucketed)
        # Force dispatch="auto" sites onto the two-level branch for the
        # measurement: the r12 adaptive dispatch picks the PLAIN window
        # wherever the measured max group fits one sort task (true for
        # window_rank_ntile at every fixture scale — part is catalog-
        # bounded), so its bucket site would never fire here and the
        # audit would lose coverage of exactly the branch this gate
        # exists to measure. The branch only runs at scales where groups
        # outgrow the bound, and ITS skew behavior is scale-independent
        # (bucket boundaries come from the key's min/max), so measuring
        # it at fixture scale is the honest preview.
        self.swap(ranks, "PLAIN_WINDOW_BOUND", -1)

    def end(self, df):
        rows = []
        for key, mode, bucketed in self.sites:
            occ = (
                bucketed.groupBy(ranks.BUCKET)
                .agg(F.count(F.lit(1)).alias("c"))
                .agg(
                    F.sum("c").alias("n"),
                    F.count(F.lit(1)).alias("used"),
                    F.max("c").alias("mx"),
                    F.avg("c").alias("mean"),
                )
                .collect()[0]
            )
            rows.append((key, mode, int(occ["n"] or 0), int(occ["used"] or 0),
                         int(occ["mx"] or 0), float(occ["mean"] or 0.0)))
        return rows


def audit_rows(
    spark, sf_dir: str, names: list[str] | None = None
) -> list[tuple[str, str, str, int, int, int, float]]:
    """Measure bucket occupancy for every with_value_buckets call the
    given queries make at ``sf_dir``. Returns (query, key, mode, rows,
    buckets_used, max_occ, mean_occ) per captured frame. Importable
    by the pytest gate (tests/test_skew_gate.py) so tool and test
    share one definition of 'the call sites'. A query whose build
    fails is reported (``build-failed``) and captures nothing."""
    cap = S.capture(spark, sf_dir, names or RANKS_QUERIES, [Skew()], verbose=False)
    return [(name, *row) for name, rows in cap["skew"].items() for row in rows]


def main() -> int:
    args = [a for a in sys.argv[1:]]
    threshold = float(S.pop_opt(args, "--threshold", 3.0))
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    spark = get_spark(app_name="skew_audit")
    rows_out = audit_rows(spark, sf_dir)

    print(f"# ranks bucket-occupancy audit at {sf_dir}")
    print(
        f"{'query':<30} {'key':<16} {'mode':<9} {'rows':>9} "
        f"{'used':>5} {'max':>8} {'mean':>9} {'max/mean':>9}"
    )
    bad = []
    for name, key, mode, n, used, mx, mean in rows_out:
        ratio = mx / mean if mean else 0.0
        flag = ""
        if mode == "range" and ratio > threshold:
            bad.append((name, key, ratio))
            flag = "  <-- SKEWED (switch to bucket_mode='quantile')"
        print(
            f"{name:<30} {key:<16} {mode:<9} {n:>9} {used:>5} "
            f"{mx:>8} {mean:>9.1f} {ratio:>8.2f}x{flag}"
        )
    if bad:
        print(f"\n{len(bad)} range-mode site(s) over {threshold}x: {bad}")
        return 1
    print(f"\nall range-mode sites within {threshold}x of mean occupancy")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
