"""Read plans build in a few py4j round trips.

Each Python -> JVM py4j command is a socket round trip, and before any
job runs the driver spends its time on them. Sessions from
``get_spark`` turn off PySpark's per-call call-site capture (four extra
round trips per Column call), and the fold is built as SQL text, one
round trip per expression. These tests pin both.
"""

from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F


def _sends(monkeypatch, fn):
    """Run ``fn``; return (result, py4j commands it sent)."""
    n = [0]
    send = ClientServerConnection.send_command

    def counting(self, command):
        n[0] += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    try:
        out = fn()
    finally:
        monkeypatch.undo()
    return out, n[0]


def test_get_spark_turns_off_call_site_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_current_view_builds_in_few_round_trips(spark, tmp_db, monkeypatch):
    src = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("grp"), F.lit(1.0).alias("v")
    )
    t = tmp_db.create_table_typed("budget", src.schema, "k")
    t.ingest_dataframe(src)
    t.bulk_update(spark.createDataFrame([(3, 9)], "k long, grp long"))
    view, n = _sends(monkeypatch, t.current_view)
    # 593 sends with call-site capture and the fold as Column calls; 94 now
    assert n <= 200, n
    assert sorted((r["k"], r["grp"]) for r in view.where("grp = 9").collect()) == [(3, 9)]
