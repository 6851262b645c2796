"""Change-data-capture apply: merge a changelog into a base snapshot
(the lakehouse MERGE INTO / upsert shape).

Reference: the importer's ``removeLedger`` + re-save cycle
(``lib/hbase/hbase-thrift/index.js`` deleteRow + putRows) IS a
hand-rolled changelog apply -- every re-imported ledger is a
delete-then-upsert against the stored snapshot.  Spark expresses the
whole reconciliation declaratively: latest-op-per-key over the
changelog, one full-outer join against the base, row-level CASE for
insert/update/delete resolution.

Scale design (100 TB): the latest-per-key window and the merge join
share the SAME key, so the changelog side is shuffled ONCE --
HashPartitioning(key) from the window satisfies the join requirement
(plan-asserted: exactly two hash exchanges total, one per side).  At
production scale the base side is bucketed by key on disk, which
removes its exchange too.  Delete handling is a filter, not a second
pass.

Determinism: changelog ordering is (ts, event_id) descending -- the
same total order in both engines -- and the op classification is a
pure CASE over event_type.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.registry import register
from ..sources.catalog import load_table

# Spread changelog keys across [0, 20 * max_user): beyond the customer
# key range they exercise the INSERT branch, inside it the UPDATE/DELETE
# branches -- all three MERGE arms fire at every SF.
KEY_STRIDE = 20

OP_CASE = (
    "CASE WHEN event_type = 'signup' THEN 'I' "
    "WHEN event_type = 'error' THEN 'D' ELSE 'U' END"
)


@register(
    "cdc_merge_latest",
    rotation_group=2,
    oracle=f"""
    WITH ch AS (
        SELECT user_id * {KEY_STRIDE} AS key, ts, event_id, value,
               {OP_CASE} AS op
        FROM events
    ),
    latest AS (
        SELECT key, value, op,
               ROW_NUMBER() OVER (PARTITION BY key
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM ch
    ),
    l1 AS (SELECT key, value, op FROM latest WHERE rn = 1),
    base AS (SELECT c_custkey AS key, c_acctbal AS balance FROM customer)
    SELECT COALESCE(b.key, l.key) AS key,
           CASE WHEN l.op IN ('I', 'U') THEN l.value
                ELSE b.balance END AS balance,
           CASE WHEN l.op IS NULL THEN 'unchanged'
                WHEN b.key IS NULL THEN 'inserted'
                ELSE 'updated' END AS change_type
    FROM base b FULL OUTER JOIN l1 l ON b.key = l.key
    WHERE l.op IS NULL OR l.op <> 'D'
    ORDER BY key
    """,
    doc="CDC changelog apply (MERGE INTO semantics): latest op per key "
        "wins (I/U upsert the new value, D drops the row, absent keys "
        "pass the base through).  The declarative form of the "
        "reference's removeLedger-then-putRows reconciliation "
        "(hbase-thrift index.js) -- one window + one full-outer join "
        "replaces the daemon's per-row read-modify-write.  The "
        "changelog's latest-per-key window and the merge join share "
        "the key, so the changelog shuffles once (plan-asserted).",
)
def cdc_merge_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = changelog(spark, sf_dir)
    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"), F.col("c_acctbal").alias("balance")
    )
    return merge_changelog(base, ch).orderBy("key")


def changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic changelog relation (key, ts, event_id, value, op)."""
    return load_table(spark, sf_dir, "events").select(
        (F.col("user_id") * KEY_STRIDE).alias("key"),
        "ts",
        "event_id",
        "value",
        F.expr(OP_CASE).alias("op"),
    )


def merge_changelog(base: DataFrame, ch: DataFrame) -> DataFrame:
    """MERGE a changelog into a (key, balance) base snapshot; returns
    (key, balance, change_type).  Reusable for incremental application
    (foreachBatch-style): feeding the output's (key, balance) back as
    the next base folds batches associatively -- fold(chunks) ==
    one-shot(all), the law tests/test_invariants.py asserts."""
    w = Window.partitionBy("key").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    l1 = (
        ch.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("key").alias("c_key"), "value", "op")
    )
    b = base.select(F.col("key").alias("b_key"), "balance")
    merged = b.join(l1, b.b_key == l1.c_key, "full_outer")
    return merged.filter(F.col("op").isNull() | (F.col("op") != "D")).select(
        F.coalesce(F.col("b_key"), F.col("c_key")).alias("key"),
        F.when(F.col("op").isin("I", "U"), F.col("value"))
        .otherwise(F.col("balance"))
        .alias("balance"),
        F.when(F.col("op").isNull(), F.lit("unchanged"))
        .when(F.col("b_key").isNull(), F.lit("inserted"))
        .otherwise(F.lit("updated"))
        .alias("change_type"),
    )


# ------------------------------------------ snapshot diff (reverse CDC)

# The inverse problem of the merge above: given two snapshots of the
# same table, EMIT the changelog (insert/update/delete changeset) --
# what Delta's table_changes / a reconciliation job computes when the
# upstream cannot produce a changelog itself.  The reference has this
# problem too: its verifyLedgers daemon diffs stored ledger hashes
# against the live server to find drift.
#
# Snapshots are derived deterministically from events so the changeset
# is oracle-checkable at any SF: snapshot A = events outside the mod-9
# carveout; snapshot B additionally drops a mod-7 slice (deletes vs A),
# adds the mod-9 slice (inserts), and shifts value on a mod-5 slice
# (updates).  All three arms fire at every SF.
DIFF_ROUND = 9


def _snapshots_sql() -> tuple[str, str]:
    a = "SELECT event_id, user_id, value FROM events WHERE event_id % 9 <> 0"
    b = ("SELECT event_id, user_id, "
         "CASE WHEN event_id % 5 = 0 THEN value + 1.0 ELSE value END AS value "
         "FROM events WHERE event_id % 7 <> 0")
    return a, b


@register(
    "cdc_snapshot_diff",
    rotation_group=6,
    oracle=f"""
    WITH snap_a AS ({_snapshots_sql()[0]}),
    snap_b AS ({_snapshots_sql()[1]})
    SELECT COALESCE(a.event_id, b.event_id) AS event_id,
           CASE WHEN a.event_id IS NULL THEN 'I'
                WHEN b.event_id IS NULL THEN 'D'
                ELSE 'U' END AS op,
           a.value AS old_value,
           b.value AS new_value
    FROM snap_a a
    FULL OUTER JOIN snap_b b ON a.event_id = b.event_id
    WHERE a.event_id IS NULL OR b.event_id IS NULL
       OR a.value IS DISTINCT FROM b.value
       OR a.user_id IS DISTINCT FROM b.user_id
    ORDER BY event_id
    """,
    doc="Snapshot diff -- the reverse of cdc_merge_latest: given two "
        "snapshots of a keyed table, emit the (I/U/D, old, new) "
        "changeset, i.e. reconstruct the changelog when the upstream "
        "cannot produce one (Delta table_changes; the reference's "
        "verifyLedgers daemon diffing stored vs live ledgers is this "
        "exact job).  One full-outer join on the key with row-level "
        "CASE classification; unchanged rows are filtered INSIDE the "
        "join's output projection, so the changeset -- tiny when drift "
        "is rare -- is the only thing that survives the stage.  Update "
        "detection is null-safe (eqNullSafe / IS DISTINCT FROM) so a "
        "value transitioning to or from NULL still emits a U row.  At "
        "scale both snapshot scans prune to the same bucketed key "
        "layout that removes the merge's exchange; the diff of two "
        "100 TB snapshots shuffles each side once on the key, exactly "
        "like the forward merge.  round-trip law: applying the emitted "
        "changeset to snapshot A reproduces snapshot B exactly.",
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    snap_a = e.filter(F.col("event_id") % 9 != 0).select(
        "event_id", "user_id", "value"
    )
    snap_b = e.filter(F.col("event_id") % 7 != 0).select(
        "event_id",
        "user_id",
        F.when(F.col("event_id") % 5 == 0, F.col("value") + 1.0)
        .otherwise(F.col("value"))
        .alias("value"),
    )
    a = snap_a.select(
        F.col("event_id").alias("a_id"),
        F.col("user_id").alias("a_user"),
        F.col("value").alias("old_value"),
    )
    b = snap_b.select(
        F.col("event_id").alias("b_id"),
        F.col("user_id").alias("b_user"),
        F.col("value").alias("new_value"),
    )
    joined = a.join(b, F.col("a_id") == F.col("b_id"), "full_outer")
    return (
        joined.filter(
            F.col("a_id").isNull()
            | F.col("b_id").isNull()
            | ~F.col("old_value").eqNullSafe(F.col("new_value"))
            | ~F.col("a_user").eqNullSafe(F.col("b_user"))
        )
        .select(
            F.coalesce("a_id", "b_id").alias("event_id"),
            F.when(F.col("a_id").isNull(), "I")
            .when(F.col("b_id").isNull(), "D")
            .otherwise("U")
            .alias("op"),
            "old_value",
            "new_value",
        )
        .orderBy("event_id")
    )
