"""Replica controller — the Spark-native analogue of the reference's binlog
replication client (reference sql/binlogreplication/binlog_replication.go:
42-57, admin nodes sql/plan/replication_commands.go:1-379).

The reference consumes a MySQL binlog over the wire and applies row events
to local tables. There is no wire protocol here, so the change stream is a
*directory of JSON-lines files* (the shape a CDC tool like Debezium or a
binlog-to-object-store bridge lands), consumed with Structured Streaming:

- `CHANGE REPLICATION SOURCE TO SOURCE_DIR='/path' [, SOURCE_HOST=...]`
  points the replica at the stream (other options are accepted and stored
  for SHOW, as the reference does).
- `START REPLICA` runs one `availableNow` pass over the stream. The
  streaming *checkpoint* is the replica's durable position — a restart (or
  the next START REPLICA) resumes after the last applied file, which is
  exactly the reference's `@@gtid_executed` persistence duty.
- `STOP REPLICA` / `RESET REPLICA` stop and forget.
- `SHOW REPLICA STATUS` reports state/position/error like a MySQL replica.

Event format (one JSON object per line):
    {"gtid": 7, "table": "t", "op": "insert"|"update"|"delete",
     "row": {col: value, ...},            # insert/update: full new row
     "key": {pkcol: value, ...}}          # update/delete: old-row key

Apply model: events in a micro-batch are sequenced by gtid on the driver
and applied as per-(table, op) runs of set-wise DataFrame transforms —
the same single-applier-thread semantics as the reference's applier, with
bulk (not per-row) snapshot rewrites. Replication streams are a trickle
relative to table scans, so driver-side sequencing is not a scale concern;
the bulk work (join/union against the snapshot) stays distributed.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F
from pyspark.sql import types as T

_EVENT_SCHEMA = T.StructType([
    T.StructField("gtid", T.LongType()),
    T.StructField("table", T.StringType()),
    T.StructField("op", T.StringType()),
    T.StructField("row", T.MapType(T.StringType(), T.StringType())),
    T.StructField("key", T.MapType(T.StringType(), T.StringType())),
])


class ReplicaController:
    """Per-engine replica state machine (reference binlog_replication.go
    BinlogReplicaController interface)."""

    def __init__(self, eng):
        self.eng = eng
        self.options: dict[str, str] = {}
        self.source_dir: str | None = None
        self.checkpoint_dir: str | None = None
        self.io_running = False
        self.last_error = ""
        self.last_gtid = 0
        self.events_applied = 0

    # ---- statement surface -------------------------------------------------

    def change_source(self, sql: str):
        """CHANGE REPLICATION SOURCE TO k=v, ... (also CHANGE MASTER TO)."""
        import re

        from ..engine import OkResult, SqlError
        m = re.match(
            r"CHANGE\s+(?:REPLICATION\s+SOURCE|MASTER)\s+TO\s+(.*)$",
            sql.strip().rstrip(";"), re.I | re.S)
        if not m:
            raise SqlError(f"cannot parse CHANGE REPLICATION SOURCE: {sql[:60]!r}")
        for part in self._split_opts(m.group(1)):
            if "=" not in part:
                continue
            k, v = part.split("=", 1)
            key = k.strip().upper().replace("MASTER_", "SOURCE_")
            self.options[key] = v.strip().strip("'\"")
        if "SOURCE_DIR" in self.options:
            self.source_dir = self.options["SOURCE_DIR"]
            self.checkpoint_dir = os.path.join(
                tempfile.gettempdir(),
                "gms_replica_ckpt_" + str(abs(hash(self.source_dir)) % 10**10))
        return OkResult(0)

    @staticmethod
    def _split_opts(s: str) -> list[str]:
        out, depth, cur = [], 0, []
        for c in s:
            if c == "'":
                depth ^= 1
            if c == "," and depth == 0:
                out.append("".join(cur))
                cur = []
            else:
                cur.append(c)
        if cur:
            out.append("".join(cur))
        return out

    def start(self):
        """START REPLICA: one availableNow pass; position persists in the
        streaming checkpoint, so only not-yet-applied files are read."""
        from ..engine import OkResult, SqlError
        if not self.source_dir:
            raise SqlError(
                "replica not configured: CHANGE REPLICATION SOURCE TO "
                "SOURCE_DIR='<change-stream dir>' first")
        self.io_running = True
        self.last_error = ""
        try:
            stream = (
                self.eng.spark.readStream.schema(_EVENT_SCHEMA)
                .json(self.source_dir)
            )
            q = (
                stream.writeStream
                .foreachBatch(lambda df, epoch: self._apply_batch(df))
                .option("checkpointLocation", self.checkpoint_dir)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        except Exception as exc:  # surface in SHOW REPLICA STATUS like MySQL
            self.last_error = str(exc)[:300]
            self.io_running = False
            raise
        return OkResult(0)

    def stop(self):
        from ..engine import OkResult
        self.io_running = False
        return OkResult(0)

    def reset(self):
        """RESET REPLICA [ALL]: forget position (and source for ALL)."""
        import shutil

        from ..engine import OkResult
        if self.checkpoint_dir and os.path.isdir(self.checkpoint_dir):
            shutil.rmtree(self.checkpoint_dir, ignore_errors=True)
        self.io_running = False
        self.last_gtid = 0
        self.events_applied = 0
        return OkResult(0)

    def status_rows(self) -> list[tuple]:
        if not self.source_dir:
            return []  # not a replica → empty set, MySQL behavior
        return [(
            "Waiting for source to send event" if self.io_running else "",
            self.options.get("SOURCE_HOST", self.source_dir),
            self.options.get("SOURCE_USER", ""),
            int(self.options.get("SOURCE_PORT", "3306") or 3306),
            60,
            "Yes" if self.io_running else "No",
            "Yes" if self.io_running else "No",
            self.last_gtid,
            self.events_applied,
            self.last_error,
        )]

    # ---- applier -----------------------------------------------------------

    def _apply_batch(self, batch_df) -> None:
        """Apply one micro-batch: sequence by gtid, coalesce consecutive
        same-(table, op) events, apply each run as ONE set-wise snapshot
        transform (union / keyed anti-join). The applier is its own
        session, as MySQL's applier thread is, so its writes are in no
        statement's undo log: each run stays applied, and counted in the
        position, when a later event makes START REPLICA fail."""
        events = [r.asDict(recursive=True)
                  for r in batch_df.orderBy("gtid").collect()]
        runs: list[tuple[str, str, list[dict]]] = []
        for ev in events:
            if ev["gtid"] is not None and ev["gtid"] <= self.last_gtid:
                continue  # already applied (idempotent re-delivery)
            if runs and runs[-1][0] == ev["table"] and runs[-1][1] == ev["op"]:
                runs[-1][2].append(ev)
            else:
                runs.append((ev["table"], ev["op"], [ev]))
        eng = self.eng
        caller = eng.session  # waiting in START REPLICA on another thread
        eng.session = eng.new_session()
        eng.session.current_db = caller.current_db
        try:
            for table, op, evs in runs:
                self._apply_run(table, op, evs)
                self.events_applied += len(evs)
                self.last_gtid = max(
                    self.last_gtid,
                    max(e["gtid"] or 0 for e in evs))
        finally:
            eng.session = caller

    def _apply_run(self, table: str, op: str, evs: list[dict]) -> None:
        from ..engine import SqlError
        ts = self.eng._table(table)
        cols = [c.name for c in ts.columns]
        spark = self.eng.spark

        def rows_df(field: str):
            data = [[(e[field] or {}).get(c) for c in cols] for e in evs]
            df = spark.createDataFrame(
                data, T.StructType([T.StructField(c, T.StringType())
                                    for c in cols]))
            return df.select(*[
                F.col(c.name).cast(c.spark_type).alias(c.name)
                for c in ts.columns])

        if op == "insert":
            out = ts.df.unionByName(rows_df("row"))
        elif op in ("delete", "update"):
            keycols = sorted({k for e in evs for k in (e["key"] or {})})
            if not keycols:
                raise SqlError(f"replication {op} event without key for {table!r}")
            keys = spark.createDataFrame(
                [[(e["key"] or {}).get(k) for k in keycols] for e in evs],
                T.StructType([T.StructField(k, T.StringType())
                              for k in keycols]))
            typed = {c.name: c.spark_type for c in ts.columns}
            keys = keys.select(*[F.col(k).cast(typed[k]).alias(k)
                                 for k in keycols])
            out = ts.df.join(F.broadcast(keys), keycols, "left_anti")
            if op == "update":
                out = out.unionByName(rows_df("row"))
        else:
            raise SqlError(f"unknown replication op {op!r}")
        self.eng._register(ts, out.localCheckpoint(eager=True))
