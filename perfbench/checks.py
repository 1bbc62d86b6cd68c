"""Output checks: DuckDB oracles over the generated inputs.

Each function returns a list of problems (empty = correct).  They take
plain pandas / arrow data, so they run without Spark and a test can feed
them a deliberately corrupted result.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pyarrow as pa

from perfbench.gen import EVENTS_SCHEMA

EVENT_COLS = [f.name for f in EVENTS_SCHEMA]


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.sql("SET threads=4")
    return con


def _ranges_sql(rules: list[tuple[int, int]]) -> str:
    if not rules:
        return "FALSE"
    return "(" + " OR ".join(f"user_id BETWEEN {lo} AND {hi}" for lo, hi in rules) + ")"


def lww_problems(
    con: duckdb.DuckDBPyConnection,
    rows: pa.Table,
    got: pd.DataFrame,
    upto_wt: int,
    rules: list[tuple[int, int]],
    lo: int | None = None,
    hi: int | None = None,
    convicted_absent: bool = False,
    kept_present: bool = True,
) -> list[str]:
    """``got`` against last-write-wins over every generated row with
    writetime <= ``upto_wt`` (optionally within user_id [lo, hi]).

    Rules name only the partition key, so each key is convicted whole.  A
    key the rules keep must appear exactly as its newest version (unless
    ``kept_present`` is off).  A convicted key may be absent (a compaction
    dropped it) or present as its newest version (written after the last
    compaction); with ``convicted_absent`` it must be absent."""
    con.register("all_rows", rows)
    con.register("got", got[EVENT_COLS])
    bound = "TRUE"
    if lo is not None:
        bound = f"user_id BETWEEN {lo} AND {hi}"
    conv = _ranges_sql(rules)
    con.sql(f"""
        CREATE OR REPLACE TEMP TABLE lww AS
        SELECT * EXCLUDE (rn), {conv} AS convicted FROM (
          SELECT *, row_number() OVER (
            PARTITION BY user_id, event_id ORDER BY writetime DESC) AS rn
          FROM all_rows WHERE writetime <= {upto_wt} AND {bound})
        WHERE rn = 1""")
    problems = []
    n_dup = con.sql(
        "SELECT count(*) FROM (SELECT user_id, event_id FROM got "
        "GROUP BY ALL HAVING count(*) > 1)").fetchone()[0]
    if n_dup:
        problems.append(f"{n_dup} keys appear more than once")
    cols = ", ".join(EVENT_COLS)
    missing = kept_present and con.sql(f"""
        SELECT count(*) FROM (
          SELECT {cols} FROM lww WHERE NOT convicted
          EXCEPT SELECT {cols} FROM got)""").fetchone()[0]
    if missing:
        problems.append(f"{missing} kept rows missing or stale")
    extra = con.sql(f"""
        SELECT count(*) FROM (
          SELECT {cols} FROM got
          EXCEPT SELECT {cols} FROM lww
          {"WHERE NOT convicted" if convicted_absent else ""})""").fetchone()[0]
    if extra:
        problems.append(f"{extra} rows not in the expected view")
    if lo is not None:
        outside = con.sql(
            f"SELECT count(*) FROM got WHERE NOT (user_id BETWEEN {lo} AND {hi})"
        ).fetchone()[0]
        if outside:
            problems.append(f"{outside} rows outside the read bound")
    con.unregister("got")
    con.unregister("all_rows")
    return problems


def backup_problems(
    con: duckdb.DuckDBPyConnection,
    rows: pa.Table,
    backup: pd.DataFrame,
    kept: pd.DataFrame,
    upto_wt: int,
    rules: list[tuple[int, int]],
) -> list[str]:
    """A retention job's backup holds only convicted keys, each at its
    newest version, and nothing the snapshot also kept."""
    problems = lww_problems(con, rows, backup, upto_wt, rules, kept_present=False)
    con.register("backup", backup[EVENT_COLS])
    con.register("kept", kept[EVENT_COLS])
    wrong = con.sql(
        f"SELECT count(*) FROM backup WHERE NOT {_ranges_sql(rules)}").fetchone()[0]
    if wrong:
        problems.append(f"{wrong} backed-up rows are not convicted by the rules")
    both = con.sql(
        "SELECT count(*) FROM backup b JOIN kept k USING (user_id, event_id)"
    ).fetchone()[0]
    if both:
        problems.append(f"{both} keys both kept and backed up")
    con.unregister("backup")
    con.unregister("kept")
    return problems


# ---------------------------------------------------------------------------
# crawl admission replay
# ---------------------------------------------------------------------------


def admission_replay(
    con: duckdb.DuckDBPyConnection,
    docs: pa.Table,
    min_tokens: int = 30,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> list[int]:
    """The admitted doc ids of ``stream_corpus_ingest`` over K shards
    (``docs`` carries a ``shard`` column; shard k is micro-batch k),
    replayed shard by shard in DuckDB:

    1. gate: raw whitespace token count >= ``min_tokens``;
    2. within the shard, the lowest id per identical text survives;
    3. texts already admitted are dropped;
    4. a survivor sharing an LSH band bucket with an admitted doc and
       estimated Jaccard >= ``threshold`` against it is dropped.

    Signatures use the engine's portable MinHash family, so the replay
    reproduces the engine's candidates and estimates exactly."""
    from cassandra_util_spark.functions import portable_hash31_sql
    from cassandra_util_spark.operators.dedup import minhash_params

    norm = (
        "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
        " ' +', ' ', 'g'))"
    )
    params = ", ".join(f"({j}, {a}, {b})" for j, (a, b) in enumerate(minhash_params(num_perm)))
    rows_per_band = num_perm // bands
    con.register("crawl", docs)
    con.sql(f"""
        CREATE OR REPLACE TEMP TABLE sig AS
        WITH toks AS (SELECT doc_id, string_split({norm}, ' ') AS w FROM crawl),
        sh AS (
          SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
                                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
            FROM toks WHERE len(w) >= 3)),
        h AS (SELECT doc_id, {portable_hash31_sql('sh')} AS h FROM sh)
        SELECT doc_id, p.j, min((p.a * h.h + p.b) % 2147483647) AS v
        FROM h CROSS JOIN (VALUES {params}) p(j, a, b)
        GROUP BY doc_id, p.j""")
    con.sql(f"""
        CREATE OR REPLACE TEMP TABLE bands AS
        SELECT doc_id, j // {rows_per_band} AS band,
               string_agg(CAST(v AS VARCHAR), ',' ORDER BY j) AS bucket
        FROM sig GROUP BY doc_id, j // {rows_per_band}""")
    con.sql("CREATE OR REPLACE TEMP TABLE admitted (doc_id BIGINT, text VARCHAR)")
    n_shards = con.sql("SELECT max(shard) + 1 FROM crawl").fetchone()[0]
    for k in range(n_shards):
        con.sql(f"""
            CREATE OR REPLACE TEMP TABLE surv AS
            SELECT doc_id, text FROM (
              SELECT doc_id, text,
                     row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
              FROM crawl
              WHERE shard = {k}
                AND len(list_filter(string_split(text, ' '), x -> x <> '')) >= {min_tokens})
            WHERE rn = 1""")
        if k:
            con.sql("DELETE FROM surv WHERE text IN (SELECT text FROM admitted)")
            con.sql(f"""
                DELETE FROM surv WHERE doc_id IN (
                  SELECT c.nid FROM (
                    SELECT DISTINCT a.doc_id AS nid, r.doc_id AS rid
                    FROM bands a
                    JOIN surv s ON s.doc_id = a.doc_id
                    JOIN bands r ON a.band = r.band AND a.bucket = r.bucket
                    JOIN admitted m ON m.doc_id = r.doc_id) c
                  JOIN sig sa ON sa.doc_id = c.nid
                  JOIN sig sb ON sb.doc_id = c.rid AND sb.j = sa.j
                  GROUP BY c.nid, c.rid
                  HAVING round(count(*) FILTER (WHERE sa.v = sb.v) / {num_perm}.0, 6)
                         >= {threshold})""")
        con.sql("INSERT INTO admitted SELECT doc_id, text FROM surv")
    ids = [r[0] for r in con.sql("SELECT doc_id FROM admitted ORDER BY doc_id").fetchall()]
    con.unregister("crawl")
    return ids


def id_set_problems(got: list[int], want: list[int], what: str) -> list[str]:
    g, w = set(got), set(want)
    problems = []
    if len(got) != len(g):
        problems.append(f"{len(got) - len(g)} duplicate {what}")
    if w - g:
        problems.append(f"{len(w - g)} expected {what} missing")
    if g - w:
        problems.append(f"{len(g - w)} unexpected {what}")
    return problems


# ---------------------------------------------------------------------------
# frame equality by the oracle suite's order-insensitive value hash
# ---------------------------------------------------------------------------


def frame_problems(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Row count, column names and value hash, as ``scripts/check_oracle``
    compares a query against its DuckDB oracle."""
    from scripts.check_oracle import normalize, value_hash

    g, w = normalize(got.copy()), normalize(want.copy())
    if len(g) != len(w):
        return [f"rowcount {len(g)} != {len(w)}"]
    if list(g.columns) != list(w.columns):
        return [f"columns {list(g.columns)} != {list(w.columns)}"]
    if value_hash(g) != value_hash(w):
        return ["value-hash mismatch"]
    return []


def oracle_problems(con: duckdb.DuckDBPyConnection, name: str, got: pd.DataFrame) -> list[str]:
    """``got`` against the repository's DuckDB oracle ``ORACLES[name]``
    (which reads the view ``documents``)."""
    from cassandra_util_spark.entry_queries import ORACLES

    return frame_problems(got, con.sql(ORACLES[name]).df())


def components_problems(pairs: pd.DataFrame, got: pd.DataFrame) -> list[str]:
    """Connected components of the pair graph, by union-find: every node
    labelled with the smallest id reachable from it."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["id_a"], pairs["id_b"]):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = pd.DataFrame({"id": list(parent), "comp": [find(x) for x in parent]})
    return frame_problems(got, want)
