"""Independent expected states for the correctness gate.

Written from the sink's semantics, not from the engine's code: a
window-function last-writer-wins over the generated events, in SQL.
Per key ``(conv_id, turn_idx)``, in offset order:

* the row is the key's last non-delete event (absent if it has none);
* soft delete (``delete_mode=update``): if a delete follows that event,
  the row is marked ``op_type='D'`` and keeps ``ts`` from the FIRST such
  delete (a row already marked is not re-marked); otherwise
  ``op_type`` is the upper-cased op of the event;
* hard delete (``delete_mode=delete``): a following delete removes it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAYLOAD = ["conv_id", "turn_idx", "role", "text", "ts", "tool",
           "meta_source"]


def expected_state(spark: SparkSession, events: DataFrame, hi_offset: int,
                   soft_delete: bool) -> DataFrame:
    """Final table state after applying every event with
    ``kafka_offset < hi_offset`` (``audit_ts`` excluded)."""
    events.filter(F.col("kafka_offset") < hi_offset) \
        .createOrReplaceTempView("pb_events")
    cols = ", ".join(f"u.{c}" for c in PAYLOAD if c != "ts")
    if soft_delete:
        select = f"""
SELECT {cols},
       coalesce(d.del_ts, u.ts) AS ts,
       CASE WHEN d.del_ts IS NULL THEN upper(u.op) ELSE 'D' END AS op_type
FROM last_up u LEFT JOIN first_del d
  ON u.conv_id = d.conv_id AND u.turn_idx = d.turn_idx"""
    else:
        select = f"""
SELECT {cols}, u.ts
FROM last_up u LEFT ANTI JOIN first_del d
  ON u.conv_id = d.conv_id AND u.turn_idx = d.turn_idx"""
    return spark.sql(f"""
WITH ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY conv_id, turn_idx ORDER BY kafka_offset DESC) AS rn
  FROM pb_events WHERE op <> 'd'
),
last_up AS (SELECT * FROM ranked WHERE rn = 1),
first_del AS (
  SELECT e.conv_id, e.turn_idx, min_by(e.ts, e.kafka_offset) AS del_ts
  FROM pb_events e JOIN last_up u
    ON e.conv_id = u.conv_id AND e.turn_idx = u.turn_idx
   AND e.kafka_offset > u.kafka_offset
  WHERE e.op = 'd'
  GROUP BY e.conv_id, e.turn_idx
)
{select}
""")


def same_rows(pairs: dict[str, tuple[DataFrame, DataFrame]]
              ) -> dict[str, tuple[bool, str]]:
    """For each named ``(expected, actual)`` pair: order-insensitive
    multiset equality over ``expected``'s columns, compared as strings
    (decoded Avro timestamps are TIMESTAMP_NTZ, generated ones
    TIMESTAMP; both render alike in a UTC session). All pairs in one
    job: a row count and a sum of per-row hashes for every side."""
    sides = []
    out: dict[str, tuple[bool, str]] = {}
    for name, (expected, actual) in pairs.items():
        cols = sorted(expected.columns)
        missing = set(cols) - set(actual.columns)
        if missing:
            out[name] = (False, f"actual lacks columns {sorted(missing)}")
            continue
        row = F.to_json(F.struct(*[F.col(c).cast("string") for c in cols]))
        for side, df in (("e", expected), ("a", actual)):
            sides.append(df.select(
                F.lit(f"{side}:{name}").alias("side"),
                F.xxhash64(row).cast("decimal(38,0)").alias("h")))
    if not sides:
        return out
    union = sides[0]
    for df in sides[1:]:
        union = union.unionByName(df)
    got = {r["side"]: (r["n"], r["h"]) for r in union.groupBy("side").agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("h")).collect()}
    for name in pairs:
        if name in out:
            continue
        e, a = got.get(f"e:{name}", (0, 0)), got.get(f"a:{name}", (0, 0))
        out[name] = ((True, f"{e[0]} rows match") if e == a else
                     (False, f"expected {e[0]} rows, got {a[0]} "
                             f"(or contents differ)"))
    return out
