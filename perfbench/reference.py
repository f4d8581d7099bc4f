"""Independent DuckDB reference for every workload's outputs.

The reference reads the same generated parquet the program gets and
re-derives the expected results in SQL (and plain Python for the
dedup checks); it shares no code with the package under test.

Comparisons return the number of mismatching rows (0 = correct):
actual rows arrive as an Arrow table and are diffed against the
expected query with ``EXCEPT ALL`` in both directions.
"""

from __future__ import annotations

import re

import duckdb
import pyarrow as pa

# Debezium envelope parse: enveloped or bare, after-wins field lookup,
# blank values dropped, amounts stripped of quotes and whitespace.
# Blank values are dropped in a table of their own first: DuckDB may
# evaluate projections before a filter in the same query, and blank
# text is not JSON.
_PARSE = r"""
CREATE TABLE js AS
SELECT "offset" AS off, batch, v FROM raw WHERE NOT regexp_matches(v, '^\s*$');
CREATE TABLE ev AS
WITH j AS (
    SELECT off, batch, v, coalesce(json_extract(v, '$.payload'), v::JSON) AS env
    FROM js
), f AS (
    SELECT off, batch,
        TRY_CAST(coalesce(json_extract_string(env, '$.after.order_id'),
                          json_extract_string(env, '$.before.order_id'))
                 AS INTEGER) AS order_id,
        TRY_CAST(coalesce(json_extract_string(env, '$.after.user_id'),
                          json_extract_string(env, '$.before.user_id'))
                 AS INTEGER) AS user_id,
        coalesce(json_extract_string(env, '$.after.amount_eur'),
                 json_extract_string(env, '$.before.amount_eur'),
                 json_extract_string(v, '$.payload.after.amount_eur')) AS amount_str,
        coalesce(json_extract_string(env, '$.after.status'),
                 json_extract_string(env, '$.before.status')) AS status,
        json_extract_string(env, '$.op') AS op,
        CAST(json_extract(env, '$.ts_ms') AS BIGINT) AS ts_ms
    FROM j
)
SELECT order_id, user_id,
       CAST(regexp_replace(amount_str, '["\s]', '', 'g') AS DOUBLE) AS amount_eur,
       status, op, ts_ms, off, batch
FROM f WHERE order_id IS NOT NULL
"""

_ROW_COLS = "order_id, user_id, amount_eur, status, last_change_s"


def _latest(where: str, keep_tombstones: bool = False) -> str:
    """Top-1 per key by (ts_ms, offset) among events matching ``where``."""
    tomb = "" if keep_tombstones else "AND op <> 'd'"
    return f"""
    SELECT order_id, user_id, amount_eur, status, ts_ms // 1000 AS last_change_s, op
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY order_id ORDER BY ts_ms DESC NULLS LAST, off DESC) AS rn
        FROM ev WHERE {where}
    ) WHERE rn = 1 {tomb}
    """


class CdcReference:
    """Expected silver, privacy and change-feed contents for a change log.

    ``files`` maps a batch number (0 = base log, then 1, 2, ...) to the
    parquet file holding that batch's records."""

    def __init__(self, files: dict, salt: str):
        self.con = duckdb.connect()
        self.salt = salt
        arms = " UNION ALL ".join(
            f"SELECT *, {b} AS batch FROM read_parquet('{p}')" for b, p in files.items()
        )
        self.con.execute(f"CREATE TABLE raw AS {arms}")
        self.con.execute(_PARSE)

    def state_sql(self, upto_batch: int) -> str:
        return f"SELECT {_ROW_COLS} FROM ({_latest(f'batch <= {upto_batch}')})"

    def privacy_sql(self, upto_batch: int) -> str:
        return f"""
        SELECT order_id,
               sha256(CAST(user_id AS VARCHAR) || '::' || '{self.salt}') AS user_key,
               amount_eur, status, last_change_s
        FROM ({self.state_sql(upto_batch)})
        """

    def changes_sql(self, batch: int, version: int) -> str:
        """Change rows a MERGE of ``batch`` onto the prior state records."""
        prev = self.state_sql(batch - 1)
        lat = _latest(f"batch = {batch}", keep_tombstones=True)
        return f"""
        WITH p AS ({prev}), l AS ({lat})
        SELECT l.order_id, l.user_id, l.amount_eur, l.status, l.last_change_s,
               CASE WHEN p.order_id IS NULL THEN 'insert'
                    ELSE 'update_postimage' END AS change_type, {version} AS v
        FROM l LEFT JOIN p USING (order_id) WHERE l.op <> 'd'
        UNION ALL
        SELECT p.order_id, p.user_id, p.amount_eur, p.status, p.last_change_s,
               CASE WHEN l.op = 'd' THEN 'delete' ELSE 'update_preimage' END,
               {version}
        FROM p JOIN l USING (order_id)
        """

    def distinct_keys(self, batch: int) -> int:
        q = f"SELECT count(DISTINCT order_id) FROM ev WHERE batch = {batch}"
        return self.con.execute(q).fetchone()[0]

    def tombstones(self, upto_batch: int) -> int:
        q = f"""SELECT count(*) FROM ({_latest(f'batch <= {upto_batch}', True)})
                WHERE op = 'd'"""
        return self.con.execute(q).fetchone()[0]

    def valid_events(self, upto_batch: int) -> int:
        q = f"SELECT count(*) FROM ev WHERE batch <= {upto_batch}"
        return self.con.execute(q).fetchone()[0]

    def diff(self, actual: pa.Table, actual_cols: str, expected_sql: str) -> int:
        """Rows in one side and not the other (multiset), both ways."""
        self.con.register("actual", actual)
        try:
            q = f"""
            WITH a AS (SELECT {actual_cols} FROM actual), e AS ({expected_sql})
            SELECT (SELECT count(*) FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM e))
                 + (SELECT count(*) FROM (SELECT * FROM e EXCEPT ALL SELECT * FROM a))
            """
            return self.con.execute(q).fetchone()[0]
        finally:
            self.con.unregister("actual")

    def query(self, sql: str) -> list:
        return self.con.execute(sql).fetchall()


# Actual-side projections matching the reference's column order.
SILVER_COLS = (
    "order_id, user_id, amount_eur, status, "
    "CAST(epoch(last_change_ts) AS BIGINT) AS last_change_s"
)
PRIVACY_COLS = (
    "order_id, user_key, amount_eur, status, "
    "CAST(epoch(last_change_ts) AS BIGINT) AS last_change_s"
)
CHANGE_COLS = SILVER_COLS + ", _change_type, _commit_version"


# ------------------------------- dedup checks -------------------------------

_WS = re.compile(r"[ \t\n\x0b\f\r]+")  # Java's \s


def shingles(text: str, n: int = 3) -> set:
    ws = [w for w in _WS.split(text) if w]
    return {" ".join(ws[i : i + n]) for i in range(max(len(ws) - n, 0) + 1)}


def jaccard(a: set, b: set) -> float:
    uni = len(a | b)
    return len(a & b) / uni if uni else 0.0


def check_dedup(
    texts: dict, pairs: list, keepers: list, threshold: float
) -> int:
    """Number of wrong rows among reported pairs and keeper decisions.

    - every reported pair has id_a < id_b and its exact shingle Jaccard,
      which reaches the threshold;
    - every pair of verbatim copies is reported (LSH cannot miss them);
    - keepers are the min id of each connected component of the pairs,
      and every document gets exactly one decision."""
    bad = 0
    sh = {}
    reported = set()
    for a, b, jac in pairs:
        for d in (a, b):
            if d not in sh:
                sh[d] = shingles(texts[d])
        exact = jaccard(sh[a], sh[b])
        if not (a < b and abs(exact - jac) <= 1e-9 and exact >= threshold):
            bad += 1
        reported.add((a, b))
    by_text: dict = {}
    for d, t in texts.items():
        by_text.setdefault(t, []).append(d)
    for ids in by_text.values():
        ids.sort()
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                if (a, b) not in reported:
                    bad += 1
    parent = {d: d for d in texts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in reported:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    seen = set()
    for d, comp, keep in keepers:
        want = find(d)
        if d in seen or comp != want or bool(keep) != (d == want):
            bad += 1
        seen.add(d)
    bad += len(set(texts) - seen)
    return bad
