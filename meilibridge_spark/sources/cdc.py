"""CDC event model + deterministic fixture generator (FIXTURES.md §4).

Mirrors the reference's Mongo change-stream shape
(pkg/database/types.go:11-28: WatchResult{DocumentId, Document,
Update{UpdateFields, RemoveFields}}, WatcherType ∈ {insert, update,
delete, replace}) keyed on the transcripts primary key
(conv_id, turn_idx).
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from meilibridge_spark.session import trim_importer_cache
from meilibridge_spark.sources.transcripts import TRANSCRIPT_SCHEMA

CDC_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType(), False),  # insert|update|replace|delete
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("full_document", TRANSCRIPT_SCHEMA, True),
        T.StructField(
            "updated_fields", T.MapType(T.StringType(), T.StringType()), True
        ),
        T.StructField("removed_fields", T.ArrayType(T.StringType()), True),
        T.StructField("ts", T.TimestampType(), False),  # event time (order)
    ]
)

#: string-typed transcript columns a partial update may touch
#: (pkg/bridge/mongo.go:252-262 applies UpdateFields as a map)
UPDATABLE_FIELDS = ("role", "text", "tool")

FOLDED_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp, deleted boolean"
)


def fold_events(cdc: DataFrame, docs: DataFrame) -> DataFrame:
    """Resolve a CDC batch to one final row-state per touched key.

    Events are applied in event-ts order on top of the current doc row
    (S9-S12 semantics): insert/replace set the full document; update
    applies updated_fields then nulls removed_fields (update on a
    missing doc upserts onto an empty row — the reference re-fetches
    from source, pkg/bridge/mongo.go:232-249); delete tombstones.
    Output: FOLDED_SCHEMA with ``deleted`` marking keys to drop.
    """
    cur = docs.select(
        "conv_id",
        "turn_idx",
        F.col("role").alias("_cur_role"),
        F.col("text").alias("_cur_text"),
        F.col("tool").alias("_cur_tool"),
        F.col("ts").alias("_cur_ts"),
    )
    ev = cdc.join(cur, ["conv_id", "turn_idx"], "left")

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        trim_importer_cache()
        pdf = pdf.sort_values("ts", kind="stable")
        first = pdf.iloc[0]
        conv_id, turn_idx = first["conv_id"], int(first["turn_idx"])
        exists = pd.notna(first["_cur_ts"])
        state = (
            {
                "role": first["_cur_role"],
                "text": first["_cur_text"],
                "tool": first["_cur_tool"],
                "ts": first["_cur_ts"],
            }
            if exists
            else None
        )
        for row in pdf.itertuples(index=False):
            op = row.op
            if op in ("insert", "replace"):
                fd = row.full_document
                state = {
                    "role": fd["role"],
                    "text": fd["text"],
                    "tool": fd["tool"],
                    "ts": fd["ts"],
                }
            elif op == "update":
                if state is None:
                    state = {"role": None, "text": None, "tool": None, "ts": row.ts}
                upd = row.updated_fields or {}
                for k, v in upd.items():
                    if k in UPDATABLE_FIELDS:
                        state[k] = v
                for k in row.removed_fields or []:
                    if k in UPDATABLE_FIELDS:
                        state[k] = None
            elif op == "delete":
                state = None
        if state is None:
            out = {
                "conv_id": conv_id,
                "turn_idx": turn_idx,
                "role": None,
                "text": None,
                "tool": None,
                "ts": None,
                "deleted": True,
            }
        else:
            out = {
                "conv_id": conv_id,
                "turn_idx": turn_idx,
                **state,
                "deleted": False,
            }
        return pd.DataFrame([out])

    return ev.groupBy("conv_id", "turn_idx").applyInPandas(fold, FOLDED_SCHEMA)


def apply_events(base: DataFrame, cdc: DataFrame) -> DataFrame:
    """Apply a CDC batch to a plain transcripts TABLE (not an index):
    untouched rows pass through, touched keys take their folded final
    state, deletes drop. Used to advance the base side of a view
    (S25) before re-fetching view rows, and by tests as the ground
    truth of post-CDC state."""
    folded = fold_events(cdc, base)
    keys = folded.select("conv_id", "turn_idx")
    live = folded.filter(~F.col("deleted")).drop("deleted")
    untouched = base.join(keys, ["conv_id", "turn_idx"], "left_anti")
    return untouched.unionByName(live.select(*base.columns))


def generate_cdc_batch(
    spark: SparkSession,
    source: DataFrame,
    seed: int = 7,
    n_updates: int = 20,
    n_inserts: int = 10,
    n_deletes: int = 5,
    n_replaces: int = 5,
) -> DataFrame:
    """Deterministic CDC fixture against an existing transcripts table:
    updates/replaces/deletes hit sampled existing keys; inserts add new
    turns past each conv's end."""
    import numpy as np

    keys = [
        (r["conv_id"], r["turn_idx"], r["ts"])
        for r in source.select("conv_id", "turn_idx", "ts")
        .orderBy("conv_id", "turn_idx")
        .collect()
    ]
    max_turn: dict[str, int] = {}
    for c, t, _ in keys:
        max_turn[c] = max(max_turn.get(c, -1), t)
    rng = np.random.default_rng(seed)
    picks = rng.choice(
        len(keys), size=min(len(keys), n_updates + n_deletes + n_replaces), replace=False
    )
    base_ts = dt.datetime(2026, 6, 1)
    events = []
    i = 0

    def ev_ts():
        return base_ts + dt.timedelta(seconds=len(events))

    for _ in range(n_updates):
        c, t, _ts = keys[picks[i]]
        i += 1
        events.append(
            (
                "update", c, int(t), None,
                {"text": f"updated text number {len(events)} spark merge"},
                ["tool"], ev_ts(),
            )
        )
    for _ in range(n_replaces):
        c, t, _ts = keys[picks[i]]
        i += 1
        events.append(
            (
                "replace", c, int(t),
                (c, int(t), "assistant", f"replaced body {len(events)} join scan", None, ev_ts()),
                None, None, ev_ts(),
            )
        )
    for _ in range(n_deletes):
        c, t, _ts = keys[picks[i]]
        i += 1
        events.append(("delete", c, int(t), None, None, None, ev_ts()))
    convs = sorted(max_turn)
    for j in range(n_inserts):
        c = convs[int(rng.integers(0, len(convs)))]
        t = max_turn[c] + 1
        max_turn[c] = t
        events.append(
            (
                "insert", c, int(t),
                (c, int(t), "user", f"inserted turn {j} query filter hash", None, ev_ts()),
                None, None, ev_ts(),
            )
        )
    return spark.createDataFrame(events, CDC_SCHEMA)
