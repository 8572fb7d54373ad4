"""Expected outputs, computed independently of the program's Spark plans.

- Per-sink counts come from the generator's spec with DuckDB, applying the
  routing rules the program documents: a page with empty html is one
  ('error', 'parse_error') row; an event whose (lang, host) has no row in
  the routing dimension goes to 'error'; every other event goes to
  'sink_<lang>'.
- Body text bytes come from the program's scalar reference parser
  (`refparser.parse_page`), the designated byte oracle.
- Curation shard stats come from the program's DuckDB twin of the composed
  pipeline (`curation_oracle_sql`) over the generated documents.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.dataset as ds

from gen import KNOWN_LANGS, N_HOSTS, ZH_DARK_HOST_MIN

Counts = dict[str, int]  # "sink_id/event_type" -> rows, the manifest's key form


def _sink_sql(group_by_file: bool) -> str:
    known = ", ".join(f"'{x}'" for x in KNOWN_LANGS)
    fcol = "file, " if group_by_file else ""
    return f"""
WITH ev AS (
  SELECT {fcol}lang, host_id, unnest(event_types) AS event_type
  FROM spec WHERE NOT empty_html),
routed AS (
  SELECT {fcol}
    CASE WHEN lang NOT IN ({known}) OR host_id >= {N_HOSTS}
              OR (lang = 'zh' AND host_id >= {ZH_DARK_HOST_MIN})
         THEN 'error' ELSE 'sink_' || lang END AS sink_id,
    event_type
  FROM ev
  UNION ALL
  SELECT {fcol}'error' AS sink_id, 'parse_error' AS event_type
  FROM spec WHERE empty_html)
SELECT {fcol}sink_id || '/' || event_type AS k, count(*) AS n
FROM routed GROUP BY ALL"""


def expected_counts(spec: pa.Table) -> Counts:
    con = duckdb.connect()
    con.register("spec", spec)
    return {k: int(n) for k, n in con.sql(_sink_sql(False)).fetchall()}


def expected_counts_by_file(spec: pa.Table) -> dict[int, Counts]:
    """spec must carry an int `file` column (the landing file index)."""
    con = duckdb.connect()
    con.register("spec", spec)
    out: dict[int, Counts] = {}
    for f, k, n in con.sql(_sink_sql(True)).fetchall():
        out.setdefault(int(f), {})[k] = int(n)
    return out


def add_counts(into: Counts, other: Counts) -> Counts:
    for k, n in other.items():
        into[k] = into.get(k, 0) + n
    return into


def rows_to_counts(rows) -> Counts:
    """sink_counts() rows -> the manifest's key form."""
    return {f"{r['sink_id']}/{r['event_type']}": int(r["n"]) for r in rows}


def text_bytes_mismatches(data_dir: str, html_by_url: dict[str, bytes]) -> list[str]:
    """Urls whose written seq-0 text_bytes differ from the scalar parse of
    their html (or that are missing from the written files)."""
    from bocadillo_spark.refparser import parse_page

    dataset = ds.dataset(data_dir, format="parquet", partitioning="hive")
    got = dataset.to_table(
        columns=["url", "text_bytes"],
        filter=ds.field("url").isin(list(html_by_url)) & (ds.field("seq") == 0),
    ).to_pydict()
    written = dict(zip(got["url"], got["text_bytes"]))
    return [
        u
        for u, html in html_by_url.items()
        if written.get(u, b"\x00missing") != parse_page(html).text_bytes
    ]


def curation_expected(docs: pa.Table) -> list[tuple[int, int, int]]:
    from bocadillo_spark.plans.curation import curation_oracle_sql

    con = duckdb.connect()
    con.register("documents", docs)
    return sorted(tuple(int(x) for x in r) for r in con.sql(curation_oracle_sql()).fetchall())
