"""Independent recomputation of the expected outputs, in DuckDB, from
the facts the generator planted (``facts.csv``: the parse every valid
slow line must produce). Nothing here calls the package under test.
"""

from __future__ import annotations

import csv
import glob
import os

from cassandra_slow_queries_spark.plans.reports import REPORT_FILES

# the CLI's report shaping defaults
MIN_COUNT = 5
TOP_N = 100
ROWS_PER_MINUTE = 5

_PREPARED = """
CREATE VIEW p AS SELECT
    ts, duration, query,
    coalesce(primary_key, '') AS pk,
    coalesce(keyspace, '') AS ks,
    coalesce(column_family, '') AS cf,
    strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M') AS minute
FROM read_csv('{path}', header = true, quote = '"', escape = '"',
    columns = {{'ts': 'TIMESTAMP', 'type': 'VARCHAR', 'duration': 'BIGINT',
               'query': 'VARCHAR', 'primary_key': 'VARCHAR',
               'keyspace': 'VARCHAR', 'column_family': 'VARCHAR'}})
"""
_MEASURES = "count(*) AS c, sum(duration) AS d, sum(duration) // count(*) AS a"
# report -> SQL over the prepared view, columns in CSV header order
REPORT_SQL = {
    "query": f"""SELECT c, d, a, query FROM (
        SELECT query, {_MEASURES} FROM p GROUP BY query HAVING count(*) >= {MIN_COUNT})
        ORDER BY d DESC, query LIMIT {TOP_N}""",
    "query_pk": f"""SELECT c, d, a, pk, query FROM (
        SELECT query, pk, {_MEASURES} FROM p WHERE pk <> ''
        GROUP BY query, pk HAVING count(*) >= {MIN_COUNT})
        ORDER BY d DESC, query, pk LIMIT {TOP_N}""",
    "primary_key": f"""SELECT c, d, a, ks, cf, pk FROM (
        SELECT ks, cf, pk, {_MEASURES} FROM p WHERE pk <> '' AND ks <> '' AND cf <> ''
        GROUP BY ks, cf, pk HAVING count(*) >= {MIN_COUNT})
        ORDER BY d DESC, ks, cf, pk LIMIT {TOP_N}""",
    "volume": f"""SELECT minute, c, d, a FROM (
        SELECT minute, {_MEASURES} FROM p GROUP BY minute HAVING count(*) >= {MIN_COUNT})
        ORDER BY minute""",
    "volume_top": f"""SELECT minute, c, d, a, pk, query FROM (
        SELECT *, row_number() OVER (PARTITION BY minute ORDER BY d DESC, query, pk) AS rn
        FROM (SELECT minute, query, pk, {_MEASURES} FROM p
              GROUP BY minute, query, pk HAVING count(*) >= {MIN_COUNT}))
        WHERE rn <= {ROWS_PER_MINUTE} ORDER BY minute, d DESC, query, pk""",
}


class Oracle:
    """DuckDB over one input directory's ``facts.csv``; results are
    computed once and reused by every run's check."""

    def __init__(self, in_dir: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(_PREPARED.format(path=os.path.join(in_dir, "facts.csv")))
        self._reports: dict | None = None

    def close(self) -> None:
        self.con.close()

    def reports(self) -> dict[str, list[tuple]]:
        if self._reports is None:
            self._reports = {
                name: [tuple(str(v) for v in row) for row in self.con.execute(sql).fetchall()]
                for name, sql in REPORT_SQL.items()
            }
        return self._reports

    def closed_window_top_k(self, k: int, watermark: str) -> list[tuple]:
        """Per-minute top-``k`` (minute, query, pk) cells over windows the
        final watermark (max event time minus ``watermark``) has closed."""
        sql = f"""
        WITH cells AS (
            SELECT minute, query, pk, count(*) AS c, sum(duration) AS d,
                   sum(duration) // count(*) AS a
            FROM p GROUP BY minute, query, pk),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY minute ORDER BY d DESC, query, pk) AS rn
            FROM cells)
        SELECT minute, query, pk, c, d, a FROM ranked
        WHERE rn <= {k}
          AND strptime(minute, '%Y-%m-%d %H:%M') + INTERVAL 1 MINUTE
              <= (SELECT max(ts) FROM p) - INTERVAL '{watermark}'
        ORDER BY ALL"""
        return [(m, q, pk, int(c), int(d), int(a))
                for m, q, pk, c, d, a in self.con.execute(sql).fetchall()]


def read_report(run_dir: str, name: str) -> list[tuple]:
    """Rows of one written report (header dropped), in file order."""
    rows: list[tuple] = []
    parts = sorted(glob.glob(os.path.join(run_dir, REPORT_FILES[name], "part-*.csv")))
    if not parts:
        raise FileNotFoundError(f"no CSV part files for report {name!r} in {run_dir}")
    for part in parts:
        with open(part, newline="", encoding="utf-8") as f:
            reader = csv.reader(f, escapechar="\\", doublequote=False)
            next(reader, None)
            rows.extend(tuple(r) for r in reader)
    return rows


def compare_reports(run_dir: str, expected: dict[str, list[tuple]]) -> list[str]:
    """Each report's row set must equal the recomputation."""
    problems = []
    for name, want in expected.items():
        got = read_report(run_dir, name)
        if sorted(got) != sorted(want):
            missing = sorted(set(want) - set(got))
            extra = sorted(set(got) - set(want))
            problems.append(
                f"report {name}: {len(got)} rows vs {len(want)} expected; "
                f"first missing {missing[:1]}, first extra {extra[:1]}"
            )
    return problems
