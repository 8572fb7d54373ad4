"""Broadcast-dimension routing — the TABLE_MAP lookup-join analog.

The reference's only join: every rows-event equi-joins its TableID against
an in-memory map built from TABLE_MAP events; unmatched is a hard error
(/root/reference/reader/reader.go:103-126). Here the dimension is a
broadcast hash join on (lang, host) — no shuffle of the fact side — and
unmatched rows are dead-lettered to the 'error' sink and counted, never
thrown (/root/reference/binlog/event_rows.go:43-59 recover precedent,
softened per SURVEY.md §7 step 2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..refparser import PARSE_ERROR
from ..synth import KNOWN_LANGS, ZH_DARK_HOST_MIN

ERROR_SINK = "error"


_LANGS_SQL = ", ".join(f"'{lang}'" for lang in KNOWN_LANGS)
_DIM_SQL = f"""
SELECT lang, host, concat('sink_', lang) AS sink_id,
       concat('schema_', lang) AS schema_id, host_id <= 1 AS hot
FROM (SELECT element_at(array({_LANGS_SQL}), CAST(id DIV :n_hosts AS INT) + 1) AS lang,
             format_string('h%03d', CAST(id % :n_hosts AS INT)) AS host,
             id % :n_hosts AS host_id
      FROM range(0, {len(KNOWN_LANGS)} * :n_hosts, 1, 1))
WHERE NOT (lang = 'zh' AND host_id >= {ZH_DARK_HOST_MIN})
"""

_ROUTE_SQL = """
SELECT /*+ BROADCAST(d) */ e.*,
       CASE WHEN e.parse_status = :parse_error OR d.sink_id IS NULL
            THEN :error_sink ELSE d.sink_id END AS sink_id,
       CASE WHEN e.parse_status = :parse_error THEN 'parse_error'
            WHEN d.sink_id IS NULL THEN 'unmatched_dim'
            ELSE 'ok' END AS route_reason,
       d.schema_id,
       coalesce(d.hot, false) AS hot
FROM {events} e
LEFT JOIN (SELECT lang, host, sink_id, schema_id, hot FROM {dim}) d
  ON e.lang = d.lang AND e.host = d.host
"""


def build_routing_dim(spark: SparkSession, n_hosts: int = 99) -> DataFrame:
    """(lang, host) → sink_id dimension (FIXTURES.md §2).

    One single-partition range scan of |langs|×n_hosts ids, decoded into
    (lang, host) by expressions: built in the JVM, with no Python rows, no
    Python worker and no cross join. Deliberate holes:
    - lang 'unknown' absent entirely;
    - (zh, h090..h098) absent — the composite-key unmatched path.
    At 100 TB this stays a few-KB broadcast table reloaded per micro-batch
    (the reference's schema-refresh analog, reader/schema/manager.go:34-42).
    """
    return spark.sql(_DIM_SQL, args={"n_hosts": n_hosts})


def route(events: DataFrame, dim: DataFrame) -> DataFrame:
    """events ⟕ broadcast(dim) on (lang, host) → +sink_id +route_reason.

    Precedence: parse_error beats unmatched_dim (a page that failed to
    frame is an error regardless of its routing keys). Built as one SQL
    statement on the events' own session (so it works inside
    foreachBatch); the frames are bound as temp views only while the
    statement is analysed.
    """
    return events.sparkSession.sql(
        _ROUTE_SQL,
        args={"parse_error": PARSE_ERROR, "error_sink": ERROR_SINK},
        events=events,
        dim=dim,
    )
