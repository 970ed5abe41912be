"""Cohort rule compiler — reference job 3 re-expressed as Column logic.

The reference compiles `UserGroupParam`/`UserGroupSubParam` rule objects
into dynamic SQL strings executed by ClickHouse
(UserGroupClickHouseJob.java:83-141 + mapper/UserGroupMapper.xml:4-74).
Here the rule compiles straight to `pyspark.sql.Column` expressions —
no string SQL IR — and Catalyst plans the scan/filter/agg/anti-join.

Replicated quirks (tested in tests/test_cohort.py):
- **unmapped target ⇒ NO filter** (targets 4/5/7 have no `<when>` arm in
  UserGroupMapper.xml:8-27, so the WHERE clause vanishes and ALL event
  kinds match);
- cutoff = start-of-day(today − (value−1) days)
  (UserGroupClickHouseJob.java:87);
- HAVING conjuncts AND-joined, dimensions 1=SUM(metric) 2=COUNT(*)
  3=MAX(metric) (`:107-118`), operators 0:> 1:< 2:>= 3:<= (`:119-134`);
- notExist = members minus exist via LEFT ANTI join
  (UserGroupMapper.xml:39-74).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# reference: UserGroupTargetEnum.java:11-19 + UserGroupMapper.xml:8-27.
# target → event_kind; targets 4 (VISIT), 5 (SHARE), 7 (COLLECT) are
# deliberately absent — the unmapped-target⇒no-filter quirk.
TARGET_TO_KIND = {0: 1, 1: 2, 2: 3, 3: 4, 6: 5, 8: 10}

#: THE dimension registry (UserGroupDimensionEnum.java:9-11): code →
#: (algebraic fn, event column, cube partial column). Every dispatch
#: table below — direct agg, salted spec and cube re-agg (which also
#: serves the streaming cohorts in cohort_stream) — derives from this
#: single source, so a new dimension lands everywhere or nowhere.
DIMENSIONS = {
    1: ("sum", "metric", "sum_metric"),
    2: ("count", "_one", "cnt"),
    3: ("max", "metric", "max_metric"),
}


def _dim_agg_col(dim: int):
    fn, col, _ = DIMENSIONS[dim]
    return F.count(F.lit(1)) if fn == "count" else getattr(F, fn)(col)


# dimension → agg builder (derived)
_DIM_AGG = {d: (lambda d=d: _dim_agg_col(d)) for d in DIMENSIONS}

# operator code → Column comparison (UserGroupOperatorEnum.java:10-13)
_OPS = {
    0: lambda c, v: c > v,
    1: lambda c, v: c < v,
    2: lambda c, v: c >= v,
    3: lambda c, v: c <= v,
}


@dataclass(frozen=True)
class SubParam:
    dimension: int  # 1=SUM(metric) 2=COUNT(*) 3=MAX(metric)
    operator: int  # 0:> 1:< 2:>= 3:<=
    value: int


@dataclass(frozen=True)
class CohortRule:
    target: int
    is_exist: bool
    value_days: int
    sub_params: tuple[SubParam, ...] = field(default_factory=tuple)


# the reference's two inline fixtures, translated
# (UserGroupClickHouseJob.java:65-78 via FIXTURES.md F5)
REFERENCE_RULES = (
    CohortRule(target=0, is_exist=False, value_days=14),
    CohortRule(
        target=1,
        is_exist=True,
        value_days=30,
        sub_params=(
            SubParam(2, 2, 1),
            SubParam(2, 3, 2),
            SubParam(1, 3, 100),
            SubParam(3, 3, 50),
        ),
    ),
)


def cutoff_expr(now: str, value_days: int):
    """start-of-day(now − (value−1) days) — UserGroupClickHouseJob.java:87."""
    return F.date_trunc(
        "DAY", F.to_timestamp(F.lit(now)) - F.expr(f"INTERVAL {value_days - 1} DAYS")
    )


def exist_conv_ids(events: DataFrame, rule: CohortRule, now: str) -> DataFrame:
    """R1–R4: conv_ids that DID the behavior within the lookback window,
    satisfying all HAVING conjuncts. Single scan → filter → hash agg
    (partial+final from Catalyst) → project distinct keys."""
    df = events
    kind = TARGET_TO_KIND.get(rule.target)
    if kind is not None:  # unmapped target ⇒ no filter (quirk R2)
        df = df.where(F.col("event_kind") == kind)
    df = df.where(F.col("ts") >= cutoff_expr(now, rule.value_days))

    if not rule.sub_params:
        return df.select("conv_id").distinct()

    aggs = []
    conds = []
    for i, sp in enumerate(rule.sub_params):
        col = _DIM_AGG[sp.dimension]().alias(f"_a{i}")
        aggs.append(col)
        conds.append(_OPS[sp.operator](F.col(f"_a{i}"), F.lit(sp.value)))
    having = reduce(lambda a, b: a & b, conds)  # AND-joined (:140)
    return (
        df.groupBy("conv_id").agg(*aggs).where(having).select("conv_id")
    )


#: rule dimension → (algebraic fn, column) in plans/skew.py agg-spec
#: form (derived from DIMENSIONS)
_DIM_SALTED = {d: (fn, col) for d, (fn, col, _) in DIMENSIONS.items()}


def _salted_rule_parts(events: DataFrame, rule: CohortRule, now: str):
    """Shared preamble of the salted/adaptive variants: the reference's
    kind + lookback filter, the rule's aggs in plans/skew.py spec form,
    and the AND-joined HAVING. Returns (df, aggs, having); aggs/having
    are None for a no-subparam rule (plain DISTINCT)."""
    df = events
    kind = TARGET_TO_KIND.get(rule.target)
    if kind is not None:
        df = df.where(F.col("event_kind") == kind)
    df = df.where(F.col("ts") >= cutoff_expr(now, rule.value_days))
    if not rule.sub_params:
        return df, None, None
    df = df.withColumn("_one", F.lit(1))
    aggs = {f"_a{i}": _DIM_SALTED[sp.dimension] for i, sp in enumerate(rule.sub_params)}
    having = reduce(
        lambda a, b: a & b,
        [
            _OPS[sp.operator](F.col(f"_a{i}"), F.lit(sp.value))
            for i, sp in enumerate(rule.sub_params)
        ],
    )
    return df, aggs, having


def exist_conv_ids_salted(
    events: DataFrame, rule: CohortRule, now: str, buckets: int = 32
) -> DataFrame:
    """Two-phase salted variant of :func:`exist_conv_ids` for zipf-hot
    conv_ids (plans/skew.py defense #3): partial agg on (conv_id, salt)
    → final agg on conv_id. All three rule dimensions (SUM/COUNT/MAX)
    are algebraic, so the result is row-identical — registered against
    the SAME DuckDB oracle as the direct form to prove it.
    """
    from ..plans.skew import salted_agg

    df, aggs, having = _salted_rule_parts(events, rule, now)
    if aggs is None:
        return df.select("conv_id").distinct()
    # salt on seq — varies per event within a conversation, so the hot
    # conv's partial-agg rows really span `buckets` groups (plans/skew.py)
    out = salted_agg(df, ["conv_id"], aggs, buckets=buckets, salt_source="seq")
    return out.where(having).select("conv_id")


def exist_conv_ids_adaptive(
    events: DataFrame,
    rule: CohortRule,
    now: str,
    buckets: int = 32,
    min_frac: float = 0.01,
    sample_frac: float | None = None,
    hot: DataFrame | None = None,
) -> DataFrame:
    """Adaptive-salting variant of :func:`exist_conv_ids`
    (plans/skew.py defense #4): detect the conv_ids carrying
    ≥ ``min_frac`` of the filtered events (≤ 1/min_frac keys, always
    broadcastable), then two-phase ONLY those — the zipf tail keeps a
    single partial row per conv instead of paying the ×buckets
    partial-row tax blanket salting charges every key. Row-identical to
    the direct form (algebraic aggregates) — checked against the SAME
    DuckDB oracle in tests/test_unregistered_oracles.py.

    ``hot`` (a (conv_id, …) DataFrame) skips the detection scan
    entirely — the ONLINE closed loop: feed it
    ``plans.skew.hot_keys_from_feed`` over the ``.hot/`` feed the
    materialization stream maintains (``materialize_stream(...,
    track_hot_convs=N)``), and detection costs this job nothing
    because the stream already paid it per micro-batch."""
    from ..plans.skew import hot_keys, selective_salted_agg

    df, aggs, having = _salted_rule_parts(events, rule, now)
    if aggs is None:
        return df.select("conv_id").distinct()
    if hot is None:
        hot = hot_keys(
            df, ["conv_id"], min_frac=min_frac, sample_frac=sample_frac
        )
    out = selective_salted_agg(
        df, ["conv_id"], aggs, hot=hot, buckets=buckets, salt_source="seq"
    )
    return out.where(having).select("conv_id")


def not_exist_conv_ids(
    members: DataFrame, events: DataFrame, rule: CohortRule, now: str
) -> DataFrame:
    """R5: members who did NOT do the behavior — LEFT ANTI join against
    the exist set (the NOT IN subquery of UserGroupMapper.xml:39-74).
    The exist side is a distinct-key set, usually small → broadcast."""
    behaved = exist_conv_ids(events, rule, now)
    return members.join(behaved, "conv_id", "left_anti").select("conv_id")


def evaluate_rule(
    members: DataFrame, events: DataFrame, rule: CohortRule, now: str
) -> DataFrame:
    if rule.is_exist:
        return exist_conv_ids(events, rule, now)
    return not_exist_conv_ids(members, events, rule, now)


# --- oracle SQL generation (independent textual compiler, mirrors the
# reference's SQL strings so tests cross-check the Column compiler) ----

_DIM_SQL = {1: "SUM(metric)", 2: "COUNT(*)", 3: "MAX(metric)"}
_OP_SQL = {0: ">", 1: "<", 2: ">=", 3: "<="}


def rule_to_sql(
    rule: CohortRule, events_rel: str, members_rel: str, now: str
) -> str:
    """ANSI-SQL rendering of the rule (DuckDB oracle), structurally the
    same dynamic SQL the reference emits (UserGroupMapper.xml:4-74)."""
    kind = TARGET_TO_KIND.get(rule.target)
    where = [
        f"ts_ms >= epoch_ms(date_trunc('day', TIMESTAMP '{now}' - INTERVAL {rule.value_days - 1} DAY))"
    ]
    if kind is not None:
        where.append(f"event_kind = {kind}")
    w = " AND ".join(where)
    if rule.sub_params:
        having = " AND ".join(
            f"{_DIM_SQL[sp.dimension]} {_OP_SQL[sp.operator]} {sp.value}"
            for sp in rule.sub_params
        )
        exist = (
            f"SELECT conv_id FROM ({events_rel}) WHERE {w} "
            f"GROUP BY conv_id HAVING {having}"
        )
    else:
        exist = f"SELECT DISTINCT conv_id FROM ({events_rel}) WHERE {w}"
    if rule.is_exist:
        return exist
    return (
        f"SELECT conv_id FROM ({members_rel}) "
        f"WHERE conv_id NOT IN ({exist})"
    )


# --- rule-independent pre-aggregation cube (dynamic-rule serving) -----

def _dim_cube_col(dim: int):
    """Re-aggregation of a cube partial (derived from DIMENSIONS): SUM
    and COUNT re-combine as sums, MAX as max — all algebraic, so
    evaluating a rule over the cube is EXACT, not approximate."""
    fn, _, partial = DIMENSIONS[dim]
    return F.sum(partial) if fn in ("sum", "count") else getattr(F, fn)(partial)


_DIM_CUBE = {d: (lambda d=d: _dim_cube_col(d)) for d in DIMENSIONS}


def events_cube(events: DataFrame) -> DataFrame:
    """Rule-INDEPENDENT pre-aggregation of the turn events: one row per
    (conv_id, event_kind, day) carrying the three partials every rule
    dimension needs (SUM/COUNT/MAX of the metric).

    This is the Spark-first answer to *dynamic* cohort rules (the Flink
    broadcast-state pattern): instead of wiring each rule into its own
    streaming aggregation — and restarting state when the rule set
    changes — maintain this compact cube incrementally and evaluate ANY
    rule at serve time as filter + re-agg over it. Day grain is exact
    because the reference cutoff is always start-of-day
    (UserGroupClickHouseJob.java:87).

    Scale: |convs| × |kinds ≤ 10| × |active days| rows — orders of
    magnitude below the event count; one hash agg with map-side
    partials to build, and every rule evaluation afterwards touches the
    cube, never the events.
    """
    return events.groupBy(
        "conv_id",
        "event_kind",
        F.date_trunc("DAY", F.col("ts")).alias("day"),
    ).agg(
        F.sum("metric").alias("sum_metric"),
        F.count(F.lit(1)).alias("cnt"),
        F.max("metric").alias("max_metric"),
    )


def exist_conv_ids_from_cube(
    cube: DataFrame, rule: CohortRule, now: str
) -> DataFrame:
    """R1–R4 evaluated over :func:`events_cube` — row-identical to
    :func:`exist_conv_ids` over the raw events (same oracle in tests):
    the kind filter and start-of-day cutoff select whole cube cells,
    and the HAVING dimensions re-aggregate exactly (algebraic)."""
    df = cube
    kind = TARGET_TO_KIND.get(rule.target)
    if kind is not None:  # unmapped target ⇒ no filter (quirk R2)
        df = df.where(F.col("event_kind") == kind)
    df = df.where(F.col("day") >= cutoff_expr(now, rule.value_days))
    if not rule.sub_params:
        return df.select("conv_id").distinct()
    aggs = []
    conds = []
    for i, sp in enumerate(rule.sub_params):
        aggs.append(_DIM_CUBE[sp.dimension]().alias(f"_a{i}"))
        conds.append(_OPS[sp.operator](F.col(f"_a{i}"), F.lit(sp.value)))
    having = reduce(lambda a, b: a & b, conds)
    return df.groupBy("conv_id").agg(*aggs).where(having).select("conv_id")


def evaluate_rules_cube(
    cube: DataFrame,
    members: DataFrame,
    rules,
    now: str,
) -> DataFrame:
    """Evaluate a whole rule SET against the cube → (rule_id, conv_id)
    memberships. ``rules`` is a mapping ``{stable_id: CohortRule}`` —
    pass stable ids so deleting/reordering a rule in the file never
    remaps the surviving rules' identities (which would fabricate
    ENTER/EXIT transitions downstream); a plain sequence is accepted
    for ad-hoc use with positional ids. An empty rule set yields an
    empty frame, not an error (an operator may clear the file while
    the stream runs). Each rule touches the compact cube, not the
    events; not-exist rules anti-join the member universe exactly like
    :func:`not_exist_conv_ids`."""
    items = (
        list(rules.items())
        if isinstance(rules, dict)
        else list(enumerate(rules))
    )
    if not items:
        return cube.sparkSession.createDataFrame(
            [], "rule_id int, conv_id string"
        )
    outs = []
    for rid, rule in items:
        ids = exist_conv_ids_from_cube(cube, rule, now)
        if not rule.is_exist:
            ids = members.join(ids, "conv_id", "left_anti")
        outs.append(
            ids.select(F.lit(int(rid)).cast("int").alias("rule_id"), "conv_id")
        )
    return reduce(lambda a, b: a.unionByName(b), outs)
