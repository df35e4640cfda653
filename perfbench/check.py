"""Correctness gate: an independent DuckDB replay of a generated topic.

The replay shares no code with the engine: it parses the envelopes with
DuckDB's JSON functions and keeps, per key, the well-formed event with the
highest offset (last event wins), dropping keys whose last event is a
delete. Tombstones (null values) and malformed envelopes never apply.
"""

from __future__ import annotations

from dataclasses import dataclass

import duckdb
import pyarrow as pa

_EVENTS_SQL = """
CREATE TEMP VIEW rec AS
  SELECT "offset" AS off, value FROM read_parquet('{glob}') WHERE value IS NOT NULL;
CREATE TEMP VIEW ev AS
  SELECT off,
         value->>'$.payload.op' AS op,
         COALESCE((value->>'$.payload.after.id')::BIGINT,
                  (value->>'$.payload.before.id')::BIGINT) AS id,
         (value->>'$.payload.after.value')::DOUBLE AS value,
         value->>'$.payload.after.ts' AS ts
  FROM rec WHERE json_valid(value);
"""

_REPLICA_SQL = """
CREATE TEMP TABLE want AS
  SELECT id, value, ts FROM (
    SELECT * FROM ev
    QUALIFY row_number() OVER (PARTITION BY id ORDER BY off DESC) = 1
  ) WHERE op <> 'd'
"""


@dataclass
class ReplicaCheck:
    keys: int  # distinct keys the well-formed stream touched
    wrong_keys: int  # keys missing, extra or with a wrong row in the replica
    malformed: int  # malformed envelopes in the topic, per DuckDB

    @property
    def ok(self) -> bool:
        return self.wrong_keys == 0


def check_replica(topic_glob: str, replica: pa.Table) -> ReplicaCheck:
    """Compare ``replica`` (columns id, value, ts) with the last-event-wins
    replay of every parquet file matching ``topic_glob``."""
    con = duckdb.connect()
    try:
        con.execute(_EVENTS_SQL.format(glob=topic_glob))
        con.execute(_REPLICA_SQL)
        con.register("got_arrow", replica.select(["id", "value", "ts"]))
        con.execute("CREATE TEMP TABLE got AS SELECT * FROM got_arrow")
        keys = con.execute("SELECT count(DISTINCT id) FROM ev").fetchone()[0]
        wrong = con.execute(
            "SELECT count(DISTINCT id) FROM ("
            "(SELECT * FROM want EXCEPT ALL SELECT * FROM got) UNION ALL "
            "(SELECT * FROM got EXCEPT ALL SELECT * FROM want))"
        ).fetchone()[0]
        malformed = con.execute(
            "SELECT count(*) FROM rec WHERE NOT json_valid(value)"
        ).fetchone()[0]
    finally:
        con.close()
    return ReplicaCheck(keys=keys, wrong_keys=wrong, malformed=malformed)
