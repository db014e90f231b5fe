"""Two-scale registry audit: one harness for every measured scale probe.

The engine is designed for 100 TB, so every frame class whose safety
at that scale was once only asserted in a docstring is measured
instead: each probe below captures per-site numbers while every
registry query builds (or runs) at TWO scales, and the growth across
the ~10x data step classifies each site. A bounded site shows ~1x; a
data-sized site shows ~10x and is flagged.

Probes (one table entry each, see PROBES):

* build-time spies — patch a PySpark entry point, record each call
  while the plan builds (driver-side pulls, checkpoints and hints all
  fire during plan construction in this repo — thresholds, centroid
  seeds, iteration probes). Their counts execute the captured
  subtrees at build time: acceptable for a tool and a slow gate, not
  for production instrumentation:
  - ``broadcast``: rows of every explicit ``F.broadcast()`` frame.
    AQE's auto-broadcast adapts at runtime, but an EXPLICIT hint is a
    promise the frame stays memory-sized at any scale — a data-sized
    hinted frame is an OOM at 100 TB, not a slow join.
  - ``collect``: rows of every ``.collect()`` / ``.toPandas()`` pull.
    Scalars and O(k) frames may reach the driver; O(data) may not.
  - ``checkpoint``: rows and block-manager bytes (mem+disk) of every
    ``localCheckpoint``. Pinning is the point of lineage cutting, but
    a data-sized pin is a standing executor-disk cost, so each site is
    bounded or data-sized by design (registered in
    tests/test_checkpoint_gate.py). Counting materializes lazy
    ``eager=False`` sites at build time — fine for a measurement.
  - ``collect_agg``: max input group of every collect_list /
    collect_set aggregate — the whole group lands in ONE buffer, so
    the largest group bounds the array (exact for collect_list).
    Window-based collects are out of scope: their frame bounds them.
  - ``crossjoin``: rows of both sides of every ``crossJoin``. The
    product is safe iff the SMALLER side is bounded (a broadcast
    nested loop over the big side); both sides growing is O(N^2).
* plan walkers — walk the built plan, then count:
  - ``join_key``: per equi Join node, per-key multiplicities on both
    children (keys, max pair product, max per-key reducer input).
  - ``window``: per partitioned Window node, rows / groups / max group
    of its child, plus the Partial WindowGroupLimit keys.
  - ``global_window``: input rows of every unpartitioned Window.
* executing probes — run the query to the noop sink and read what ran.
  They get their own pass: the other probes' count jobs would
  otherwise land in their readings.
  - ``explode``: rows in / rows out of every Generate node, from the
    SQL status store. The fan-out FACTOR is the compared value: a
    per-row bound (tokens/doc, frames/asset, k neighbors) stays flat
    while rows out grow ~linearly; a factor that itself grows is a
    per-row explosion of data-sized width (the O(df^2) uncapped
    posting-list class).
  - ``pandas_batch``: rows and bytes of every batch entering a Python
    worker via applyInPandas (grouped and cogrouped), mapInPandas,
    mapInArrow or pandas_udf, reported through an accumulator. Only
    queries whose build reached one of those APIs are run.

The harness owns the CLI, the registry build loop and its
``build-failed`` reporting, one re-entrancy guard (``passthrough``:
held while a probe runs its own measuring jobs, so those jobs never
fire another probe's spy — the crossjoin/checkpoint/broadcast
``count()`` calls, collect_agg's max-group ``collect()``, the walkers'
group stats), the growth rule, and the report table.

Usage: python tools/scale_audit.py PROBE[,PROBE...]|all [SF_SMALL] [SF_BIG]
           [--threshold R] [--queries a,b,...] [--detect-only]

Defaults: /root/testdata/sf0.01 -> /root/testdata/sf0.1, threshold
3.0 (a catalog-keyed frame may deepen slightly as more of the key
domain is touched; 3x across a 10x step separates that saturation
tail from linear growth). Not the cheaper sf0.001 -> sf0.01 step by default: the
documents/embeddings tables are floored at 500 docs until sf0.01, so
the doc-tier sites only show real growth from sf0.01 up. Each probe
has an absolute floor at the big scale below which growth is moot
(saturating key-domain frames — nation pairs, calendar days, a 64-row
offsets frame filling in — jump ratios while staying trivially
small). ``--detect-only`` builds every plan at SF_SMALL without
running it and lists the queries that reach each probe's sites.

Writes every per-site record to ``scale_audit.json``. Exit 1 if any
site is flagged, 2 if a site could not be measured (unmeasured is not
passing), else 0. A flagged site is fixed, or registered with its
reason in the probe's pytest gate.

Single-scale bucket skew (tools/skew_audit.py) reuses this harness's
build loop with its own rule; the streaming state audit
(tools/stream_state_audit.py) runs streams, not registry queries.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import sys

sys.path.insert(0, ".")

import pyspark.sql.functions as F  # noqa: E402
from pyspark.accumulators import AccumulatorParam  # noqa: E402

# Spark 4 routes calls through the CONCRETE classic DataFrame, which
# overrides the pyspark.sql.DataFrame ABC's methods — patch the class
# actually in the MRO's dispatch position or the spy never fires.
# GroupedData and PandasCogroupedOps are already the concrete classes.
from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402
from pyspark.sql.column import Column  # noqa: E402
from pyspark.sql.group import GroupedData  # noqa: E402
from pyspark.sql.pandas.group_ops import PandasCogroupedOps  # noqa: E402

from hivetomysql_spark.plans import introspect as I  # noqa: E402
from hivetomysql_spark.session import get_spark  # noqa: E402

SMALL_DEFAULT = "/root/testdata/sf0.01"
BIG_DEFAULT = "/root/testdata/sf0.1"
THRESHOLD = 3.0

# The pandas-batch wrappers are shipped to Python workers. Run as a
# script that is fine (__main__ pickles by value), but imported as a
# module (the pytest gates) cloudpickle serializes them by REFERENCE
# and the executor's worker cannot import tools/ — so force by-value
# pickling for this module.
try:
    from pyspark import cloudpickle as _cp

    _cp.register_pickle_by_value(sys.modules[__name__])
except Exception:  # noqa: BLE001 — older layouts; script mode still works
    pass

# process-wide, like the class and module patches it guards
_BUSY = [0]


@contextlib.contextmanager
def passthrough():
    """Every spy calls straight through to the real method while this
    is held: a probe's own measuring jobs never fire another probe."""
    _BUSY[0] += 1
    try:
        yield
    finally:
        _BUSY[0] -= 1


def growth(x: float, y: float) -> float:
    """Ratio across the scale step; 99 when the small side is 0 and
    the big side is not (a site that appears from nothing)."""
    return y / x if x else 99.0 * (y > 0)


def grows(x: float, y: float, threshold: float, floor: float, big=None) -> bool:
    """The growth rule: more than ``threshold`` across the step AND
    above the absolute ``floor`` at the big scale. ``big`` is the
    big-scale magnitude the floor applies to when it is not ``y``
    itself (rows out of a generator whose fan-out factor is compared)."""
    return growth(x, y) > threshold and (y if big is None else big) > floor


def _try(fn, default=-1):
    try:
        return fn()
    except Exception:  # noqa: BLE001
        return default


def _fmt_bytes(n: float) -> str:
    if n < 0:
        return "?"
    for unit in ("B", "KB", "MB", "GB"):
        if n < 1024:
            return f"{n:.0f}{unit}"
        n /= 1024.0
    return f"{n:.1f}TB"


class Probe:
    """One table entry. Spies append to ``self.sites`` while a query
    builds (or runs); ``end`` turns them into that query's records.
    The default ``check`` applies the growth rule to ``value(site)``
    with this probe's floor."""

    name = ""
    executes = False  # True: measured while the query runs (own pass)
    # spy call lists pair by call order, so on a length mismatch
    # (adaptive fixpoints run different round counts per scale) the
    # common prefix still pairs; plan-walk sites pair only when the
    # plan shape matches — zipping misaligned walks would pair
    # unrelated sites and compute nonsense ratios
    prefix_pairs = True
    floor = 10_000
    head = f"{'small':>10} {'big':>10} {'ratio':>7}"
    mark = "grows with data"

    def __init__(self):
        self._saved: list = []
        self.sites: list = []

    def swap(self, owner, attr, new) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def spy(self, owner, attr, wrap) -> None:
        """Route ``owner.attr`` through ``wrap(real, *args)`` unless a
        probe is measuring (``passthrough``)."""
        real = getattr(owner, attr)

        def spied(*args, **kw):
            if _BUSY[0]:
                return real(*args, **kw)
            return wrap(real, *args, **kw)

        self.swap(owner, attr, spied)

    def install(self, spark) -> None:
        self.spark = spark

    def restore(self) -> None:
        while self._saved:
            owner, attr, real = self._saved.pop()
            setattr(owner, attr, real)

    def begin(self) -> None:
        self.sites = []

    def end(self, df) -> list:
        return self.sites

    def runs(self) -> bool:
        """Whether this query must run to the noop sink."""
        return self.executes

    def site_list(self, rec) -> list:
        return rec

    def value(self, site):
        return site

    def size(self, site):
        return self.value(site)

    def cells(self, x, y) -> str:
        return f"{self.value(x):>10} {self.value(y):>10}"

    def check(self, name, x, y, threshold):
        """(row text or None to skip, 0 ok / 1 flagged / 2 unmeasured)."""
        vx, vy = self.value(x), self.value(y)
        if vx is None or vy is None or vx < 0 or vy < 0:
            return None, 0
        hit = grows(vx, vy, threshold, self.floor, self.size(y))
        row = f"{self.cells(x, y)} {growth(vx, vy):>6.2f}x"
        return row + (f"  <-- {self.mark}" if hit else ""), int(hit)


class Broadcast(Probe):
    name = "broadcast"
    mark = "GROWS WITH DATA (forced broadcast!)"

    def install(self, spark):
        super().install(spark)

        def hinted(real, df):
            self.sites.append(df)
            return real(df)

        self.spy(F, "broadcast", hinted)

    def end(self, df):
        return [_try(frame.count) for frame in self.sites]


class Collect(Probe):
    name = "collect"
    floor = 5000
    mark = "O(data) PULL TO THE DRIVER"

    def install(self, spark):
        super().install(spark)

        def pulled(real, df):
            out = real(df)
            self.sites.append(len(out))
            return out

        self.spy(DataFrame, "collect", pulled)
        self.spy(DataFrame, "toPandas", pulled)


def _stored_bytes(spark) -> dict[int, int]:
    """{rdd id: stored bytes (mem+disk)} for every RDD with blocks in
    the block manager right now."""
    jsc = spark.sparkContext._jsc.sc()
    return {
        i.id(): int(i.memSize()) + int(i.diskSize())
        for i in jsc.getRDDStorageInfo()
    }


class Checkpoint(Probe):
    name = "checkpoint"
    head = f"{'rows_s':>9} {'rows_b':>9} {'bytes_b':>9} {'ratio':>7}"
    mark = "scales with data"

    def install(self, spark):
        super().install(spark)

        def pinned(real, df, *a, **kw):
            with passthrough():
                before = _stored_bytes(spark)
                out = real(df, *a, **kw)
                rows = _try(out.count)
                nbytes = _try(lambda: sum(
                    v for k, v in _stored_bytes(spark).items() if k not in before
                ))
            self.sites.append((rows, nbytes))
            return out

        self.spy(DataFrame, "localCheckpoint", pinned)

    def value(self, site):
        return site[0]

    def cells(self, x, y):
        return f"{x[0]:>9} {y[0]:>9} {_fmt_bytes(y[1]):>9}"


class CollectAgg(Probe):
    name = "collect_agg"
    floor = 2000
    head = f"{'max_s':>9} {'max_b':>9}  {'keys':<60} {'ratio':>7}"
    mark = "group scales with data"

    def install(self, spark):
        super().install(spark)

        def tag(real, df, *cols, **kw):
            gd = real(df, *cols, **kw)
            gd._audit_src, gd._audit_cols = df, cols
            return gd

        def agg(real, gd, *exprs, **kw):
            if hasattr(gd, "_audit_src") and any(
                "collect_list(" in str(e) or "collect_set(" in str(e)
                for e in exprs
            ):
                src, cols = gd._audit_src, gd._audit_cols
                with passthrough():
                    mx = _try(lambda: src.groupBy(*cols)
                              .agg(F.count(F.lit(1)).alias("__c"))
                              .agg(F.max("__c").alias("__m"))
                              .collect()[0]["__m"] or 0)
                self.sites.append((",".join(str(c) for c in cols), int(mx)))
            return real(gd, *exprs, **kw)

        self.spy(DataFrame, "groupBy", tag)
        self.spy(GroupedData, "agg", agg)

    def value(self, site):
        return site[1]

    def cells(self, x, y):
        return f"{x[1]:>9} {y[1]:>9}  {x[0][:60]:<60}"


class CrossJoin(Probe):
    name = "crossjoin"
    floor = 2000
    head = f"{'min_s':>9} {'min_b':>9} {'max_b':>10} {'ratio':>7}"
    mark = "smaller side scales with data"

    def install(self, spark):
        super().install(spark)

        def crossed(real, left, right):
            with passthrough():
                self.sites.append((_try(left.count), _try(right.count)))
                return real(left, right)

        self.spy(DataFrame, "crossJoin", crossed)

    def value(self, site):
        return min(site)

    def cells(self, x, y):
        return f"{min(x):>9} {min(y):>9} {max(y):>10}"


# --- join_key walker -------------------------------------------------

KEYS_FLAT = 2.0  # key count / input rows "grew" above this factor


def _side_info(side):
    """One join-condition side: the single attribute it references
    (None when zero or several), whether the side IS that bare
    attribute, and its SQL text. Value-preserving wrappers Catalyst
    puts around float join keys (they only canonicalize NaN / -0.0)
    name the side as that attribute."""
    it = side.references().iterator()
    refs = []
    while it.hasNext():
        a = it.next()
        refs.append((a.name(), int(a.exprId().id())))
    if len(refs) != 1:
        return None
    core = side
    while core.getClass().getSimpleName() in (
        "KnownFloatingPointNormalized", "NormalizeNaNAndZero"
    ):
        core = core.children().apply(0)
    is_attr = core.getClass().getSimpleName() == "AttributeReference"
    return {"name": refs[0][0], "eid": refs[0][1],
            "key": refs[0][0] if is_attr else side.sql(), "expr": side}


def _attr_positions(node) -> dict[int, int]:
    """exprId -> output position; used to ATTRIBUTE each condition
    side to a join child (the measurement binds by exprId, so
    self-joins with duplicate column names stay measurable)."""
    seq = node.output()
    return {int(seq.apply(i).exprId().id()): i for i in range(seq.size())}


def equi_pairs(cond, lids, rids):
    """Walk the condition's expression TREE for EqualTo /
    EqualNullSafe clauses and attribute each side to a join child by
    exprId — robust to CAST and float-normalization wrappers. Returns
    ([(left side, right side, null-safe)], n_unparsed). When a side is
    an EXPRESSION over one attribute (dayofweek(d) = dow) the true
    shuffle key is the expression's VALUE, so the side keeps its
    catalyst expression and SQL text. Clauses whose sides carry zero
    or several attributes are counted unparsed so the caller emits an
    err row instead of silently skipping the site. EqualNullSafe
    MATCHES NULL keys (all NULLs meet on one reducer), so the
    measurement joins its count frames null-safely too."""
    pairs, unparsed = [], 0
    stack = [cond]
    while stack:
        e = stack.pop()
        cls = e.getClass().getSimpleName()
        if cls == "And":
            stack += [e.left(), e.right()]
        elif cls in ("EqualTo", "EqualNullSafe"):
            a, b = _side_info(e.left()), _side_info(e.right())
            if a and b and a["eid"] in lids and b["eid"] in rids:
                pairs.append((a, b, cls == "EqualNullSafe"))
            elif a and b and b["eid"] in lids and a["eid"] in rids:
                pairs.append((b, a, cls == "EqualNullSafe"))
            else:
                unparsed += 1
        # non-equi residual predicates are not keyed shuffles; skip
    return pairs, unparsed


def join_nodes(df):
    """(join node, pairs, n_unparsed) for every conditioned Join in
    the optimized plan — the structural walk, no jobs."""
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        n = stack.pop()
        if n.getClass().getSimpleName() == "Join" and not n.condition().isEmpty():
            yield (n, *equi_pairs(
                n.condition().get(),
                _attr_positions(n.left()), _attr_positions(n.right()),
            ))
        ch = n.children()
        stack += [ch.apply(i) for i in range(ch.size())]


_UNMEASURED = dict(rows_l=None, rows_r=None, keys=None, max_pair=None,
                   sum_pair=None, max_in=None)


def _measure_join(spark, node, pairs) -> dict:
    """Per-key counts on both rebuilt children (``Dataset.ofRows``),
    joined on the key: keys present on both sides, max and total
    pair product (per-key OUTPUT), max per-key reducer INPUT."""
    jvm = spark._jvm.org.apache.spark.sql.classic
    sides = [DataFrame(jvm.Dataset.ofRows(spark._jsparkSession, c), spark)
             for c in (node.left(), node.right())]
    counts = [
        side.groupBy(*[Column(jvm.ExpressionUtils.column(p[j]["expr"]))
                       .alias(f"__k{j}{i}") for i, p in enumerate(pairs)])
        .agg(F.count(F.lit(1)).alias(f"__m{j}"))
        for j, side in enumerate(sides)
    ]
    cond = None
    for i, (_l, _r, ns) in enumerate(pairs):
        kl, kr = F.col(f"__k0{i}"), F.col(f"__k1{i}")
        e = kl.eqNullSafe(kr) if ns else kl == kr
        cond = e if cond is None else cond & e
    row = counts[0].join(counts[1], cond).agg(
        F.count(F.lit(1)).alias("keys"),
        F.max(F.col("__m0") * F.col("__m1")).alias("mxp"),
        F.sum(F.col("__m0") * F.col("__m1")).alias("smp"),
        F.max(F.col("__m0") + F.col("__m1")).alias("mxi"),
    ).collect()[0]
    return dict(rows_l=int(sides[0].count()), rows_r=int(sides[1].count()),
                keys=int(row["keys"] or 0), max_pair=int(row["mxp"] or 0),
                sum_pair=int(row["smp"] or 0), max_in=int(row["mxi"] or 0),
                err=None)


class JoinKey(Probe):
    """A shuffled equi-join concentrates each key's rows on ONE
    reducer, so a join keyed on a bounded or heavy key has the N/k-
    per-task shape of a bounded-key window, plus output blowup (a key
    with m_l x m_r matching rows emits their product). Flags a step
    where the input grew but the key count stayed flat while the max
    per-key reducer input grew. Sites are deduped per (keys, child
    hashes)."""

    name = "join_key"
    prefix_pairs = False
    head = (f"{'keys (l=r)':<26} {'in_l@B':>9} {'in_r@B':>9} {'keys@S':>7} "
            f"{'keys@B':>8} {'mxin@S':>7} {'mxin@B':>7} {'mxpair@B':>9} "
            f"{'g_keys':>6} {'g_in':>6}")

    def end(self, df):
        out, seen = [], set()
        for n, pairs, unparsed in join_nodes(df):
            if not pairs:
                if unparsed:
                    out.append({"lkeys": ["<unparsed-equi-cond>"], "rkeys": [],
                                **_UNMEASURED,
                                "err": f"{unparsed} equi clause(s) with non-single-"
                                       "attribute sides — measure by hand"})
                continue
            lkeys = [lt["key"] for lt, _rt, _ns in pairs]
            rkeys = [rt["key"] for _lt, rt, _ns in pairs]
            dedup = (tuple(lkeys), tuple(rkeys),
                     int(n.left().semanticHash()), int(n.right().semanticHash()))
            if dedup in seen:
                continue
            seen.add(dedup)
            rec = {"lkeys": lkeys, "rkeys": rkeys,
                   "nullsafe": [ns for _lt, _rt, ns in pairs]}
            try:
                rec.update(_measure_join(self.spark, n, pairs))
            except Exception as exc:  # noqa: BLE001
                rec.update(_UNMEASURED, err=f"{type(exc).__name__}: {exc}"[:160])
            out.append(rec)
        return out

    def check(self, name, x, y, threshold):
        kdesc = ",".join(x["lkeys"])[:26]
        if x["err"] or y["err"]:
            return f"{kdesc:<26} ERR {x['err'] or y['err']}", 2
        # keys present on both sides can be 0 (anti-join probes with
        # no match at this scale) — treat as unmeasurable
        if not x["keys"] or not y["keys"]:
            return None, 0
        g_keys, g_in = growth(x["keys"], y["keys"]), growth(x["max_in"], y["max_in"])
        grew = (y["rows_l"] > x["rows_l"] * KEYS_FLAT
                or y["rows_r"] > x["rows_r"] * KEYS_FLAT)
        # a small side that stays small is broadcast by AQE at runtime
        # (the unhint rule): a broadcast hash join never shuffles the
        # stream side, so key multiplicity concentrates nothing —
        # dimension tables and the grouped primitives' O(keys) /
        # O(keys x buckets) offset frames are this class
        sm_x, sm_y = min(x["rows_l"], x["rows_r"]), min(y["rows_l"], y["rows_r"])
        flag, hit = "", 0
        if grew and g_keys < KEYS_FLAT and g_in > threshold:
            if sm_y < 100_000 and sm_y < sm_x * KEYS_FLAT:
                flag = "  (bounded small side: AQE broadcasts)"
            else:
                flag, hit = "  <-- BOUNDED/HEAVY JOIN KEY OVER GROWING DATA", 1
        return (f"{kdesc:<26} {y['rows_l']:>9} {y['rows_r']:>9} {x['keys']:>7} "
                f"{y['keys']:>8} {x['max_in']:>7} {y['max_in']:>7} "
                f"{y['max_pair']:>9} {g_keys:>5.1f}x {g_in:>5.1f}x{flag}"), hit


# --- window walkers --------------------------------------------------

GROUPS_FLAT = 2.0  # key cardinality grew less than this across the step

# Sites where a bounded-key window over growing input is by design,
# each with the reason the single task stays small at 100 TB.
# Key: (query, tuple-of-partition-keys-sql).
ALLOWED: dict[tuple[str, tuple[str, ...]], str] = {
    # r12 adaptive dispatch (operators/ranks._resolve_dispatch): the
    # query measures the largest p_brand group per run and takes this
    # plain-window plan only while it fits one sort task
    # (<= PLAIN_WINDOW_BOUND = 2M rows; 861 rows/brand at sf0.1,
    # flat at the derived sf1/sf10 points). On a deployment where
    # part scales with the data (true TPC-H: 200k x SF), the same
    # call sites flip to the two-level __rk_bucket shape the moment
    # the measured bound is crossed — the audit then sees bucket
    # frames here instead of this site.
    ("window_rank_ntile", ("p_brand",)):
        "adaptive dispatch: measured max_group <= 2M picks plain "
        "window; two-level above (ranks.py r12)",
    # CALENDAR SERIES (r12 sf1 extension): the window input is
    # domain-reduced to a time grain before the window, so the group
    # is one key's DAILY SERIES — its size is the calendar length
    # (3650 rows per decade of retention), not the data volume. The
    # derived fixtures extend the timeline 10x per scale step
    # (make_sfup shifts each copy by one span), so max group tracks
    # days exactly — the safe shape showing the hazard signature.
    ("events_ab_peeking_bias", ("grp",)):
        "2-arm daily series: group = days (calendar-bounded)",
    ("timeseries_autocorr", ("event_type",)):
        "per-type daily series: group = days (calendar-bounded)",
    ("timeseries_cusum_changepoint", ("event_type",)):
        "per-type daily series: group = days (calendar-bounded)",
}

# ENTITY-HISTORY keys (r12 sf1 extension): the derived scale model
# holds dimension key domains FIXED while facts multiply ("K x more
# transactions over the same catalog"), so per-entity groups deepen
# 10x per derived step and every user_id/custkey-keyed sequence
# window shows the bounded-key signature there. That is the model's
# fan-in deepening, not a plan defect: a per-entity sequence
# operator (sessionize, funnel, lifecycle, as-of, running balance)
# irreducibly needs ONE entity's ordered history in one place, and
# its group size at 100 TB is bounded by per-entity retention (an
# ops/data-model knob), not by table size. On the driver's own
# fixtures (sf0.01 -> sf0.1) these key domains GROW with the data
# and the sites pass the growth rule outright. Sites keyed solely on
# these are classified, not flagged — and still measured/printed.
ENTITY_HISTORY_KEYS = {"user_id", "o_custkey", "c_custkey"}

# operators/ranks two-level frames: every primitive windows over
# (group..., __rk_bucket) with a FIXED bucket count, so each bucket
# holds ~N/(k x n_buckets) BY DESIGN — that IS the decomposition
# (parallelism n_buckets instead of 1; raise n_buckets at warehouse
# scale). Occupancy balance is separately measured and gated by
# tools/skew_audit.py + tests/test_skew_gate.py.
BUCKET_COL = "__rk_bucket"


class Window(Probe):
    """A partitioned window is only scale-safe if its key's
    cardinality grows with the data: ``PARTITION BY l_returnflag``
    over raw lineitem funnels N/3 rows into one sort task. The hazard
    signature is BOUNDED KEY OVER GROWING DATA: input grew, groups
    grew < GROUPS_FLAT, max group grew > threshold. Records per
    query: the measured sites, the Partial WindowGroupLimit keys
    (``wgl``) and the structural (keys, reduce-below) walk
    (``shape``) the pytest gate reads."""

    name = "window"
    prefix_pairs = False
    head = (f"{'partition keys':<28} {'rows@S':>9} {'rows@B':>9} {'grp@S':>7} "
            f"{'grp@B':>7} {'max@S':>7} {'max@B':>7} {'g_grp':>6} {'g_max':>6}")

    def end(self, df):
        sites = I.partitioned_window_stats(df)
        if not sites:
            return None
        return {
            "sites": sites,
            "wgl": [[sorted(k), n] for k, n in I.partial_window_group_limits(df)],
            "shape": [[list(k), r] for k, r in I.partitioned_window_keys(df)],
        }

    def site_list(self, rec):
        # Catalyst stacks multi-function windows as nested Window
        # nodes with the same spec over the same rows — one line each
        # is noise (one fix fixes the stack). Collapse identical
        # (keys, rows, groups, max) measurements per query.
        out, seen = [], set()
        for s in rec["sites"]:
            k = (tuple(s["keys"]), s["rows"], s["groups"], s["max_group"])
            if k not in seen:
                seen.add(k)
                out.append({**s, "wgl": rec["wgl"]})
        return out

    def check(self, name, x, y, threshold):
        keys = tuple(x["keys"])
        kdesc = ",".join(keys)[:28]
        if x["err"] or y["err"]:
            return f"{kdesc:<28} ERR {x['err'] or y['err']}", 2
        g_grp = growth(x["groups"], y["groups"])
        g_max = growth(x["max_group"], y["max_group"])
        bare = {k.strip("`") for k in keys}
        flag, hit = "", 0
        if (y["rows"] > x["rows"] * GROUPS_FLAT  # input actually grew
                and g_grp < GROUPS_FLAT and g_max > threshold):
            if BUCKET_COL in bare:
                flag = "  (two-level bucket frame: N/buckets by design)"
            elif any(bare <= set(k) for k, _n in y["wgl"] or x["wgl"]):
                # every key covered by a Partial WindowGroupLimit: the
                # per-group sort input is k x n_map_tasks rows
                flag = "  (WindowGroupLimit partial: mitigated)"
            elif (name, keys) in ALLOWED:
                flag = "  (allowed: " + ALLOWED[(name, keys)][:40] + ")"
            elif bare <= ENTITY_HISTORY_KEYS:
                flag = ("  (entity history: derived model deepens "
                        "per-entity groups; bound = retention)")
            else:
                flag, hit = "  <-- BOUNDED KEY OVER GROWING DATA", 1
        return (f"{kdesc:<28} {x['rows']:>9} {y['rows']:>9} {x['groups']:>7} "
                f"{y['groups']:>7} {x['max_group']:>7} {y['max_group']:>7} "
                f"{g_grp:>5.1f}x {g_max:>5.1f}x{flag}"), hit


class GlobalWindow(Probe):
    """Input rows of every unpartitioned Window — a single-partition
    sort, so its input must stay O(buckets / groups / calendar). The
    shape gate trusts any reduce below the window; this counts."""

    name = "global_window"
    prefix_pairs = False

    def end(self, df):
        return I.global_window_input_counts(df)


# --- executing probes ------------------------------------------------


def _row_metric(node, metric_values) -> int:
    """The node's 'number of output rows' metric value, -1 if absent
    or not yet populated."""
    ms = node.metrics()
    for j in range(ms.size()):
        met = ms.apply(j)
        if met.name() == "number of output rows":
            v = metric_values.get(met.accumulatorId())
            if v is None or v.isEmpty():
                return -1
            digits = "".join(c for c in str(v.get()) if c.isdigit())
            return int(digits) if digits else -1
    return -1


class Explode(Probe):
    """Metrics come from ``sharedState().statusStore()`` (the UI-less
    SQLAppStatusStore — works with spark.ui.enabled=false). A query
    may fire several executions (localCheckpoint materializations +
    the sink write), so generators are read across ALL executions it
    fired, keyed by execution id (eviction-safe), in (execution,
    node-id) order, which is stable for a fixed plan. Row metrics
    inside WholeStageCodegen clusters attach to the inner nodes, so
    the walk uses allNodes; rows-in is the nearest descendant carrying
    a row metric (-1 when none, skipped in ratio math)."""

    name = "explode"
    executes = True
    head = (f"{'in_s':>9} {'out_s':>10} {'fan_s':>7} "
            f"{'in_b':>9} {'out_b':>10} {'fan_b':>7} {'fgrow':>7}")
    mark = "FAN-OUT GROWS WITH DATA"

    def _store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def begin(self):
        execs = self._store().executionsList()
        n = execs.size()
        self.after = execs.apply(n - 1).executionId() if n else -1

    def end(self, df):
        store, out = self._store(), []
        execs = store.executionsList()
        for k in range(execs.size()):
            eid = execs.apply(k).executionId()
            if eid <= self.after:
                continue
            try:
                g, mv = store.planGraph(eid), store.executionMetrics(eid)
            except Exception:  # noqa: BLE001  (execution still live)
                continue
            nodes, edges, children = g.allNodes(), g.edges(), {}
            by_id = {nodes.apply(i).id(): nodes.apply(i) for i in range(nodes.size())}
            for i in range(edges.size()):
                children.setdefault(edges.apply(i).toId(), []).append(
                    edges.apply(i).fromId())
            for nid in sorted(by_id):
                if by_id[nid].name() != "Generate":
                    continue
                rows_in, frontier, seen = -1, list(children.get(nid, [])), set()
                while frontier:
                    cid = frontier.pop(0)
                    if cid in seen or cid not in by_id:
                        continue
                    seen.add(cid)
                    rows_in = _row_metric(by_id[cid], mv)
                    if rows_in >= 0:
                        break
                    frontier.extend(children.get(cid, []))
                out.append((rows_in, _row_metric(by_id[nid], mv)))
        return out

    def value(self, site):
        rows_in, rows_out = site
        return rows_out / rows_in if rows_in > 0 and rows_out >= 0 else None

    def size(self, site):
        return site[1]  # floor applies to rows out

    def cells(self, x, y):
        return (f"{x[0]:>9} {x[1]:>10} {self.value(x):>6.1f}x "
                f"{y[0]:>9} {y[1]:>10} {self.value(y):>6.1f}x")


class _ListParam(AccumulatorParam):
    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


def _batch_reporter(acc, site: int):
    """Report the pandas/arrow args of one user-function invocation as
    one accumulator record (rows = max over args, bytes = sum over args
    — a cogroup holds BOTH sides at once, so the sum is what the
    worker holds)."""

    def measure(obj):
        if hasattr(obj, "num_rows"):  # pyarrow RecordBatch
            return int(obj.num_rows), int(obj.nbytes)
        mu = obj.memory_usage(deep=True)
        return len(obj), int(mu.sum()) if hasattr(mu, "sum") else int(mu)

    def report(args) -> None:
        sized = [
            _try(lambda a=a: measure(a), (-1, -1)) for a in args
            if hasattr(a, "memory_usage") or hasattr(a, "num_rows")
        ]
        if sized:
            acc.add([(site, max(0, *(r for r, _b in sized)),
                      sum(max(b, 0) for _r, b in sized))])

    return report


def _arity_exact(func, report):
    """PySpark's grouped/cogrouped-map arity check uses
    ``getfullargspec``, which does NOT follow ``__wrapped__`` — a
    ``*args`` wrapper fails validation, so the wrappers are arity-
    exact (1, 2 or 3 args: key and state variants)."""
    try:
        n = len(inspect.getfullargspec(func).args)
    except TypeError:
        n = 1
    if n == 2:
        def wrapped(a, b):
            report((a, b))
            return func(a, b)
    elif n == 3:
        def wrapped(a, b, c):
            report((a, b, c))
            return func(a, b, c)
    else:
        def wrapped(a):
            report((a,))
            return func(a)
    return wrapped


def _iter_reporting(func, report):
    @functools.wraps(func)
    def wrapped(it):
        def batches():
            for batch in it:
                report((batch,))
                yield batch

        return func(batches())

    return wrapped


def _args_reporting(func, report):
    # functools.wraps carries __annotations__/__wrapped__, which
    # pandas_udf's type-hint eval-type inference follows
    @functools.wraps(func)
    def wrapped(*args):
        report(args)
        return func(*args)

    return wrapped


class PandasBatch(Probe):
    """Batch size decides whether the UDF policy (zero row-at-a-time
    Python UDFs) survives 100 TB, and it differs by API: mapInPandas /
    mapInArrow batches are sliced at
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` (config-bounded;
    bytes still grow with blob width), while grouped-map and
    cogrouped ``applyInPandas`` and grouped-agg ``pandas_udf`` get ONE
    frame/Series per group — a low-cardinality key makes it O(data/k)
    in one Python worker, and a pandas UDAF gets no partial
    aggregation. Out of scope: the streaming stateful APIs (bounded
    by the micro-batch; tools/stream_state_audit.py) and
    ``F.udf(useArrow=True)`` (batch-bounded like mapInPandas).
    ``applyInPandas`` calls ``pyspark.sql.functions.pandas_udf``
    internally, so the grouped spies hold ``passthrough`` around the
    real call or every grouped map would be instrumented twice.
    Records per query: ``[api, invocations, max rows, max bytes]`` per
    call site in build order."""

    name = "pandas_batch"
    executes = True
    floor = 20_000
    head = (f"{'api':<14} {'inv_b':>6} {'rows_s':>9} {'rows_b':>9} "
            f"{'bytes_b':>9} {'ratio':>7}")
    mark = "batch scales with data"

    def install(self, spark):
        super().install(spark)

        def site(api, wrap):
            def spied(real, obj, func, *a, **kw):
                self.sites.append(api)
                wrapped = wrap(func, _batch_reporter(self.acc, len(self.sites) - 1))
                with passthrough():
                    return real(obj, wrapped, *a, **kw)
            return spied

        def pandas_udf(real, f=None, returnType=None, functionType=None):
            self.sites.append("pandas_udf")
            report = _batch_reporter(self.acc, len(self.sites) - 1)
            if callable(f):
                return real(_args_reporting(f, report), returnType, functionType)
            dec = real(f, returnType, functionType)
            return lambda fn: dec(_args_reporting(fn, report))

        self.spy(GroupedData, "applyInPandas", site("grouped_map", _arity_exact))
        self.spy(PandasCogroupedOps, "applyInPandas",
                 site("cogrouped_map", _arity_exact))
        self.spy(DataFrame, "mapInPandas", site("map_in_pandas", _iter_reporting))
        self.spy(DataFrame, "mapInArrow", site("map_in_arrow", _iter_reporting))
        self.spy(F, "pandas_udf", pandas_udf)

    def begin(self):
        self.sites = []
        self.acc = self.spark.sparkContext.accumulator([], _ListParam())

    def runs(self):
        return bool(self.sites)

    def end(self, df):
        per = [[api, 0, 0, 0] for api in self.sites]
        for site, rows, nbytes in self.acc.value:
            per[site][1:] = [per[site][1] + 1, max(per[site][2], rows),
                             max(per[site][3], nbytes)]
        return per

    def value(self, site):
        return site[2]

    def cells(self, x, y):
        return (f"{x[0]:<14} {y[1]:>6} {x[2]:>9} {y[2]:>9} "
                f"{_fmt_bytes(y[3]):>9}")


PROBES = {p.name: p for p in (
    Broadcast, Collect, Checkpoint, CollectAgg, CrossJoin,
    JoinKey, Window, GlobalWindow, Explode, PandasBatch,
)}
BUILD_PROBES = [n for n, p in PROBES.items() if not p.executes]


# --- harness ---------------------------------------------------------


def capture(spark, sf_dir: str, names: list[str], probes, run: bool = True,
            verbose: bool = True) -> dict:
    """Build every query in ``names`` at ``sf_dir`` once per pass with
    all ``probes`` attached — one pass for build-time probes, one for
    executing probes (run to the noop sink when a probe asks; never
    with ``run=False``). Returns ``{probe: {query: records}}`` plus
    ``failed``: ``{query: error}`` for builds that raised and
    ``{"probe:query": error}`` for probes that did."""
    import __spark_entry__ as entrymod

    qmap = entrymod.queries()
    out: dict = {p.name: {} for p in probes}
    out["failed"] = {}
    for group in ([p for p in probes if not p.executes],
                  [p for p in probes if p.executes]):
        if not group:
            continue
        for p in group:
            p.install(spark)
        try:
            for name in names:
                for p in group:
                    p.begin()
                try:
                    df = qmap[name](spark, sf_dir)  # plan build fires spies
                    if run and any(p.runs() for p in group):
                        # noop sink: full-column evaluation without a
                        # driver transfer — .count() would let Catalyst
                        # PRUNE UDF columns out of the plan (observed:
                        # a grouped-agg pandas_udf never ran under it)
                        df.write.format("noop").mode("overwrite").save()
                except Exception as exc:  # noqa: BLE001
                    print(f"build-failed {name}: {exc!r}", flush=True)
                    out["failed"][name] = repr(exc)[:200]
                    continue
                with passthrough():
                    for p in group:
                        try:
                            recs = p.end(df)
                        except Exception as exc:  # noqa: BLE001
                            print(f"probe-failed {p.name} {name}: {exc!r}", flush=True)
                            out["failed"][f"{p.name}:{name}"] = repr(exc)[:200]
                            continue
                        if recs:
                            out[p.name][name] = recs
                            if verbose:
                                print(f"{p.name} {name}: {recs}", flush=True)
        finally:
            for p in group:
                p.restore()
    return out


def report(probe, a: dict, b: dict, threshold: float) -> tuple[int, int]:
    """Print one probe's growth table; returns (flagged, unmeasured)."""
    print(f"\n# {probe.name}")
    print(f"{'query':<40} {'site':>4} {probe.head}")
    flagged, unmeasured = [], 0
    for name in sorted(set(a) & set(b)):
        xs, ys = probe.site_list(a[name]), probe.site_list(b[name])
        if len(xs) != len(ys):
            if not probe.prefix_pairs:
                print(f"{name}: SITE-COUNT MISMATCH {len(xs)} vs {len(ys)} "
                      "— scale-dependent plan, inspect by hand")
                unmeasured += 1
                continue
            print(f"{name}: site-count mismatch {len(xs)} vs {len(ys)} "
                  "— comparing the common prefix")
        for i, (x, y) in enumerate(zip(xs, ys)):
            row, verdict = probe.check(name, x, y, threshold)
            if row is not None:
                print(f"{name:<40} {i:>4} {row}")
            if verdict == 1:
                flagged.append(f"{name}[{i}]")
            unmeasured += verdict == 2
    print(f"{len(flagged)} flagged {probe.name} site(s){': ' if flagged else ''}"
          + " ".join(flagged))
    if unmeasured:
        print(f"{unmeasured} site(s) could not be measured (ERR above) — "
              "unmeasured is not passing; fix and re-run")
    return len(flagged), unmeasured


def pop_opt(args: list[str], flag: str, default=None):
    if flag not in args:
        return default
    i = args.index(flag)
    value = args[i + 1]
    del args[i : i + 2]
    return value


def main(argv: list[str] | None = None) -> int:
    args = list(sys.argv[1:] if argv is None else argv)
    threshold = float(pop_opt(args, "--threshold", THRESHOLD))
    only = pop_opt(args, "--queries")
    detect = "--detect-only" in args
    if detect:
        args.remove("--detect-only")
    wanted = args.pop(0).split(",") if args else []
    wanted = list(PROBES) if wanted == ["all"] else wanted
    if not wanted or set(wanted) - set(PROBES):
        print(f"usage: python tools/scale_audit.py PROBE[,PROBE...]|all "
              "[SF_SMALL] [SF_BIG] [--threshold R] [--queries a,b,...] "
              f"[--detect-only]\nprobes: {', '.join(PROBES)}")
        return 2
    small = args[0] if args else SMALL_DEFAULT
    big = args[1] if len(args) > 1 else BIG_DEFAULT

    import __spark_entry__ as entrymod

    names = [n for n in (only or "").split(",") if n] or sorted(entrymod.queries())
    probes = [PROBES[n]() for n in wanted]
    spark = get_spark(app_name="scale_audit")
    spark.sparkContext.setLogLevel("ERROR")
    if detect:
        a = capture(spark, small, names, probes, run=False, verbose=False)
        for p in probes:
            hits = a[p.name]
            print(f"\n# {p.name}: {len(hits)} of {len(names)} queries reach its sites")
            for name in sorted(hits):
                print(f"  {name}: {len(p.site_list(hits[name]))} site(s)")
        return 0

    a = capture(spark, small, names, probes)
    b = capture(spark, big, names, probes)
    with open("scale_audit.json", "w") as fh:
        json.dump({"small": small, "big": big, "records": [a, b]}, fh,
                  indent=1, default=str)
    print(f"\n# growth {small} -> {big}, threshold {threshold}x; "
          "full record -> scale_audit.json")
    totals = [report(p, a[p.name], b[p.name], threshold) for p in probes]
    failed = sorted({**a["failed"], **b["failed"]})
    if failed:
        print(f"\n{len(failed)} build/probe failure(s), unmeasured: {failed}")
    if any(f for f, _u in totals):
        return 1
    return 2 if failed or any(u for _f, u in totals) else 0


if __name__ == "__main__":
    raise SystemExit(main())
