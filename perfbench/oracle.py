"""Independent reference results, computed in DuckDB outside the timed region.

Ingest tables are checked against a last-writer-wins replay of the raw
event log: per destination, the live row count plus an order-free content
digest (the sum of a 60-bit prefix of each row's md5). The engine side
computes the same digest with Spark expressions, so only two numbers per
table cross into Python.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

from tools.check_oracle import _arrow_rows, value_hash

# one canonical text per live row, identical in both engines
_DUCK_ROW = (
    "concat_ws('|', url, CAST(lsn AS VARCHAR), coalesce(text, '~'), coalesce(lang, '~'), "
    "coalesce(title, '~'), CAST(warc_ts_ms AS VARCHAR))"
)


def spark_row_text():
    from pyspark.sql import functions as F

    return F.concat_ws(
        "|",
        F.col("url"),
        F.col("__lsn").cast("string"),
        F.coalesce(F.col("text"), F.lit("~")),
        F.coalesce(F.col("lang"), F.lit("~")),
        F.coalesce(F.col("title"), F.lit("~")),
        F.unix_millis(F.col("warc_ts")).cast("string"),
    )


def row_digest(text: str) -> int:
    return int(hashlib.md5(text.encode()).hexdigest()[:15], 16)


def spark_table_digest(df) -> tuple[int, int]:
    """(live rows, content digest) of a LakeTable read."""
    from pyspark.sql import functions as F

    h = F.conv(F.substring(F.md5(spark_row_text()), 1, 15), 16, 10).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("d")).first()
    return int(row["n"]), int(row["d"] or 0)


class LwwOracle:
    """Last-writer-wins state of a Debezium event log, per destination."""

    def __init__(self, log_path: str):
        self.con = duckdb.connect()
        self.con.execute(
            f"""
            CREATE TABLE events AS
            SELECT destination, "offset", value, json_valid(value) AS ok
            FROM read_parquet('{log_path}/*.parquet')
            WHERE value IS NOT NULL
            """
        )
        self.con.execute(
            """
            CREATE TABLE live AS
            WITH parsed AS (
              SELECT destination,
                     json_extract_string(value, '$.payload.url') AS url,
                     CAST(json_extract(value, '$.payload.__lsn') AS BIGINT) AS lsn,
                     json_extract_string(value, '$.payload.__deleted') AS deleted,
                     json_extract_string(value, '$.payload.text') AS text,
                     json_extract_string(value, '$.payload.lang') AS lang,
                     json_extract_string(value, '$.payload.title') AS title,
                     CAST(json_extract(value, '$.payload.warc_ts_ms') AS BIGINT) AS warc_ts_ms
              FROM events WHERE ok
            ), ranked AS (
              SELECT *, row_number() OVER (PARTITION BY destination, url ORDER BY lsn DESC) AS rn
              FROM parsed
            )
            SELECT destination, url, lsn, text, lang, title, warc_ts_ms FROM ranked
            WHERE rn = 1 AND deleted = 'false'
            """
        )

    def malformed(self) -> int:
        return self.con.execute("SELECT count(*) FROM events WHERE NOT ok").fetchone()[0]

    def table_digest(self, destination: str) -> tuple[int, int]:
        n, d = self.con.execute(
            f"""
            SELECT count(*), coalesce(sum(('0x' || substr(md5({_DUCK_ROW}), 1, 15))::BIGINT), 0)
            FROM live WHERE destination = ?
            """,
            [destination],
        ).fetchone()
        return int(n), int(d)

    def lookup(self, destination: str, urls: list[str]) -> set[int]:
        """Row digests of the live rows for these keys."""
        rows = self.con.execute(
            f"SELECT {_DUCK_ROW} FROM live WHERE destination = ? AND list_contains(?, url)",
            [destination, urls],
        ).fetchall()
        return {row_digest(r[0]) for r in rows}


# ----------------------------------------------------------------------
# corpus queries


class CorpusOracle:
    """Expected result of each entry query: row count, column names and
    value hash of its oracle_sql() in DuckDB, compared by the repository's
    own oracle gate (tools/check_oracle.py). Both sides arrive through
    Arrow, so column types are compared as fetched.

    The corpus is fixed, so expected results are cached in `cache_path`,
    keyed by the query's SQL, the corpus bytes and the DuckDB version."""

    def __init__(self, sf_dir: str, oracle_sql: dict[str, str], cache_path: str):
        self.sf_dir, self.sql, self.cache_path = sf_dir, oracle_sql, cache_path
        self.con = None
        h = hashlib.sha256(duckdb.__version__.encode())
        for name in sorted(os.listdir(sf_dir)):
            h.update(name.encode())
            with open(os.path.join(sf_dir, name), "rb") as fh:
                h.update(fh.read())
        self.corpus_key = h.hexdigest()
        try:
            with open(cache_path) as fh:
                self.cache = json.load(fh)
        except (OSError, ValueError):
            self.cache = {}

    def _expected(self, name: str) -> list:
        key = hashlib.sha256((self.corpus_key + self.sql[name]).encode()).hexdigest()
        if key not in self.cache:
            if self.con is None:
                self.con = duckdb.connect()
                for f in sorted(os.listdir(self.sf_dir)):
                    self.con.execute(
                        f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{self.sf_dir}/{f}')"
                    )
            ref = self.con.execute(self.sql[name]).arrow()
            cols = list(ref.column_names)
            self.cache[key] = [ref.num_rows, sorted(cols), value_hash(_arrow_rows(ref), cols)]
        return self.cache[key]

    def matches(self, name: str, tbl) -> bool:
        rows, cols, digest = self._expected(name)
        got = list(tbl.column_names)
        return tbl.num_rows == rows and sorted(got) == cols and value_hash(_arrow_rows(tbl), got) == digest

    def save(self) -> None:
        tmp = f"{self.cache_path}.tmp-{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(self.cache, fh)
        os.replace(tmp, self.cache_path)
