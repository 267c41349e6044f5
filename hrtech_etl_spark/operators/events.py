"""Event-surface operators (batch form; streaming twins live in
``hrtech_etl_spark.streaming``).

Re-expresses the reference's EVENTS-mode push (``core/pipeline.py:
121-178``): parse/normalize events (unknown type → UPSERTED, malformed
→ drop — ``connectors/warehouse_a/models.py:163-215``), look up the
referenced resources, account for missing ones, and push survivors —
all as one DataFrame plan with conditional-count metrics instead of a
per-chunk Python loop.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hrtech_etl_spark.core.expressions import conditions_to_column
from hrtech_etl_spark.core.types import Condition
from hrtech_etl_spark.operators.joins import last_wins_dedup

# Raw source event type → unified type. Unknown types map to
# "upserted" (reference connectors/warehouse_a/models.py:199-206).
DEFAULT_TYPE_MAP: Mapping[str, str] = {
    "job.created": "created",
    "job.updated": "updated",
    "job.deleted": "deleted",
    "job.archived": "archived",
    "profile.created": "created",
    "profile.updated": "updated",
    "profile.deleted": "deleted",
    "profile.archived": "archived",
}


# ---------------------------------------------------------------------------
# Per-connector webhook event specs
# ---------------------------------------------------------------------------

def _webhook_payload_schema(entity: str) -> T.StructType:
    """The connectors' documented webhook shape:
    ``{"id", "type", "timestamp", "data": {"<entity>": {"id", ...}}}``
    (reference connectors/warehouse_a/models.py:163-190,
    connectors/hrflow/models.py:322-355 — both ship this shape)."""
    return T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("type", T.StringType()),
            T.StructField("timestamp", T.StringType()),
            T.StructField(
                "data",
                T.StructType(
                    [
                        T.StructField(
                            entity,
                            T.StructType([T.StructField("id", T.StringType())]),
                        )
                    ]
                ),
            ),
        ]
    )


@dataclass(frozen=True)
class EventSpec:
    """One connector × entity webhook contract: payload schema + native
    type → unified type table. The reference encodes this per connector
    as ``from_payload`` / ``to_unified`` model methods; here it is data
    driving one generic parser, so adding a connector is a table, not
    code."""

    connector: str
    entity: str  # "job" | "profile"
    type_map: Mapping[str, str] = field(default_factory=dict)

    @property
    def schema(self) -> T.StructType:
        return _webhook_payload_schema(self.entity)


# to_unified maps ONLY created/updated/deleted; every other type —
# including "<entity>.archived" — falls through to UPSERTED
# (warehouse_a/models.py:199-206,267-274; hrflow/models.py:361-368,
# 425-432). Both connectors ship the identical table today; they are
# registered separately because the reference keeps them per-connector
# (a connector with different native names changes only its table).
def _crud_type_map(entity: str) -> Mapping[str, str]:
    return {
        f"{entity}.created": "created",
        f"{entity}.updated": "updated",
        f"{entity}.deleted": "deleted",
    }


CONNECTOR_EVENT_SPECS: Mapping[str, EventSpec] = {
    "warehouse_a.jobs": EventSpec("warehouse_a", "job", _crud_type_map("job")),
    "warehouse_a.profiles": EventSpec(
        "warehouse_a", "profile", _crud_type_map("profile")
    ),
    "hrflow.jobs": EventSpec("hrflow", "job", _crud_type_map("job")),
    "hrflow.profiles": EventSpec("hrflow", "profile", _crud_type_map("profile")),
}


def parse_connector_events(df: DataFrame, json_col: str, spec: EventSpec) -> DataFrame:
    """``from_payload().to_unified()`` as one column plan (works on
    batch and streaming frames alike).

    Mirrors the reference's error contract exactly: a payload missing
    ``id``, ``type`` or ``data.<entity>.id`` — or whose ``timestamp``
    does not parse — is DROPPED (``from_payload`` catches and returns
    None); a missing timestamp is fine (``occurred_at`` null). Output:
    ``event_id, <entity>_id, type (unified), occurred_at, payload``
    (the raw JSON, as the reference carries the full payload through).
    """
    e = F.from_json(F.col(json_col), spec.schema)
    parsed = df.select(
        e.getField("id").alias("event_id"),
        e.getField("data").getField(spec.entity).getField("id").alias(
            f"{spec.entity}_id"
        ),
        e.getField("type").alias("_type_raw"),
        normalize_event_type(e.getField("type"), spec.type_map).alias("type"),
        e.getField("timestamp").alias("_ts_raw"),
        # try_: ANSI sessions throw on a malformed literal; the
        # reference's contract is drop-the-event, i.e. NULL here.
        F.try_to_timestamp(e.getField("timestamp")).alias("occurred_at"),
        F.col(json_col).alias("payload"),
    )
    return parsed.where(
        F.col("event_id").isNotNull()
        & F.col(f"{spec.entity}_id").isNotNull()
        & F.col("_type_raw").isNotNull()
        & (F.col("_ts_raw").isNull() | F.col("occurred_at").isNotNull())
    ).drop("_type_raw", "_ts_raw")


def normalize_event_type(col: Column, type_map: Mapping[str, str] | None = None) -> Column:
    """CASE-map raw type strings to unified event types; unknown →
    'upserted'."""
    mapping = type_map or DEFAULT_TYPE_MAP
    expr = None
    for raw, unified in mapping.items():
        cond = col == raw
        expr = F.when(cond, unified) if expr is None else expr.when(cond, unified)
    return expr.otherwise("upserted") if expr is not None else F.lit("upserted")


def push_events(
    events: DataFrame,
    resources: DataFrame,
    *,
    event_key: str,
    resource_key: str,
    order_cols: Sequence[Column],
    drop_after_dedup: Sequence[str] = (),
    having: Sequence[Condition] | None = None,
    prefilter_resources: bool = False,
    mapping=None,
    sink_writer=None,
    dry_run: bool = False,
) -> dict:
    """EVENTS-mode push as ONE distributed job, metrics included.

    last-wins dedup per resource id (reference's dict overwrite,
    ``core/pipeline.py:141-143``) → left lookup join → having filter →
    sink. All five counters ride on :class:`pyspark.sql.Observation`
    metrics collected DURING the sink pass — the joined frame is
    executed once, instead of one count() job per branch re-running
    the join (total_events is observed pre_dedup on the same lineage).

    ``prefilter_resources=True`` is the point-lookup-by-ids shape
    (reference ``fetch_resources_by_events``): the deduped event keys
    are broadcast as a semi-join filter on the resources scan, so a
    handful of events against a 100 TB resource table prunes to the
    matching rows instead of shuffling the table under a left join
    whose small side (events, the LEFT of a left-outer) Spark cannot
    broadcast. Safe for every counter: the semi filter only removes
    resource rows no event references.

    ``mapping`` (a formatter spec, see :mod:`plans.mapping`) formats
    the pushed rows before the sink — the reference's
    ``safe_format_resources`` step; ``sink_writer`` routes the same
    observed pass into a connector's ``write_resource`` (the
    ``push_resources`` contract). It is the only write; without it,
    or on a dry run, the plan still executes once for the counters.
    """
    from pyspark.sql import Observation

    obs_in = Observation()
    raw_events = events  # un-observed lineage for the prefilter branch
    events = events.observe(obs_in, F.count(F.lit(1)).alias("total_events"))
    deduped = last_wins_dedup(events, event_key, order_cols)
    if drop_after_dedup:
        # internal ordering columns (e.g. the CLI's feed-position
        # tiebreak) must not leak into the pushed output
        deduped = deduped.drop(*drop_after_dedup)

    if prefilter_resources:
        # ids come from the UN-observed lineage: distinct raw event
        # keys == distinct deduped keys (dedup only drops duplicate
        # keys), and this keeps the CollectMetrics(total_events) node
        # in exactly ONE executed subtree — the counter no longer
        # relies on both plan instances scanning the full feed
        ids = raw_events.select(F.col(event_key).alias(resource_key)).distinct()
        resources = resources.join(F.broadcast(ids), resource_key, "left_semi")
    joined = deduped.join(
        resources, deduped[event_key] == resources[resource_key], "left"
    )
    matched_flag = F.col(resource_key).isNotNull()
    having_col = conditions_to_column(having or [])

    obs = Observation()
    joined = joined.observe(
        obs,
        F.count(F.when(matched_flag, 1)).alias("fetched"),
        F.count(F.when(~matched_flag, 1)).alias("missing"),
        F.count(F.when(matched_flag & having_col, 1)).alias("pushed"),
    )
    pushed_df = joined.where(matched_flag & having_col)
    if mapping:
        from hrtech_etl_spark.plans.mapping import apply_mapping

        pushed_df = apply_mapping(pushed_df, mapping)

    if dry_run or sink_writer is None:
        pushed_df.count()  # dry-run still executes the plan once
    else:
        sink_writer(pushed_df)

    m_in, m = obs_in.get, obs.get
    return {
        "total_events": int(m_in["total_events"]),
        "total_resources_fetched": int(m["fetched"]),
        "total_resources_pushed": int(m["pushed"]),
        "skipped_missing": int(m["missing"]),
        "skipped_having": int(m["fetched"] - m["pushed"]),
        "errors": [],
    }
