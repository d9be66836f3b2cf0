"""Independent correctness oracle, run untimed after each workload.

CDC outputs are checked against a DuckDB fold of the generated change log
that follows the sequential rules of the engine's test oracle
(src/test/scala/graft/OracleFold.scala), written here from the rules, not
from the engine:

- insert and upsert set the row;
- update applies only if the key exists;
- a turn delete removes the key;
- a series delete (turn_idx null) removes every key of the conversation
  at its offset;
- events apply in (offset, partition) order; identical duplicate
  deliveries (same partition and offset) count once;
- an invalid envelope (null conv_id, unknown op, or a non-delete with a
  null `after` or turn_idx) is not applied.

Query results are checked against `SparkEntry.oracleSql` with the row
canonicalization of the repo's tools/check_oracle.py. Every check returns
the number of mismatches.
"""
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracle import TABLES, canon  # noqa: E402

COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def fold_sql(ev, group=()):
    """Final state per `group` of the events in relation `ev`. The payload
    is flattened first: every aggregate runs over plain columns."""
    g = "".join(f"{c}, " for c in group)
    gk = lambda *ks: ", ".join(list(group) + list(ks))
    return f"""
    WITH valid AS (
      SELECT {g}"partition", "offset", op, conv_id, turn_idx, after.conv_id AS a_conv_id,
             after.turn_idx AS a_turn_idx, after.role AS a_role, after.text AS a_text,
             after.tool AS a_tool, after.ts AS a_ts
      FROM {ev}
      WHERE conv_id IS NOT NULL AND op IN ('insert', 'update', 'upsert', 'delete')
        AND NOT (op <> 'delete' AND (after IS NULL OR turn_idx IS NULL))),
    dedup AS (SELECT DISTINCT * FROM valid),
    sd AS (SELECT {g}conv_id, max("offset") AS o FROM dedup
           WHERE op = 'delete' AND turn_idx IS NULL GROUP BY {gk('conv_id')}),
    td AS (SELECT {g}conv_id, turn_idx, max("offset") AS o FROM dedup
           WHERE op = 'delete' AND turn_idx IS NOT NULL GROUP BY {gk('conv_id', 'turn_idx')}),
    live AS (
      SELECT d.* FROM dedup d
      LEFT JOIN td USING ({gk('conv_id', 'turn_idx')})
      LEFT JOIN sd USING ({gk('conv_id')})
      WHERE d.op <> 'delete' AND d."offset" > greatest(coalesce(td.o, -1), coalesce(sd.o, -1))),
    born AS (SELECT {g}conv_id, turn_idx, min("offset") AS f FROM live
             WHERE op IN ('insert', 'upsert') GROUP BY {gk('conv_id', 'turn_idx')}),
    win AS (
      SELECT {g}conv_id, turn_idx, max(l."offset") AS o FROM live l JOIN born b USING ({gk('conv_id', 'turn_idx')})
      WHERE l."offset" >= b.f GROUP BY {gk('conv_id', 'turn_idx')})
    SELECT {g}l.a_conv_id AS conv_id, l.a_turn_idx AS turn_idx, l.a_role AS role, l.a_text AS text,
           l.a_tool AS tool, l.a_ts AS ts
    FROM live l JOIN win w USING ({gk('conv_id', 'turn_idx')}) WHERE l."offset" = w.o"""


def connect():
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '1GB'")
    return con


def self_test():
    """The fold on a hand-written log holding every op; returns mismatches."""
    con = connect()
    rows = [  # partition, offset, op, conv_id, turn_idx, text (None = null after)
        (0, 1, "update", "a", 0, "u-before-insert"),  # key absent: dropped
        (0, 2, "insert", "a", 0, "a0-v1"),
        (0, 2, "insert", "a", 0, "a0-v1"),  # identical duplicate delivery
        (0, 3, "update", "a", 0, "a0-v2"),  # key exists: applied
        (0, 4, "upsert", "a", 1, "a1-v1"),
        (0, 5, "insert", "a", 2, "a2-v1"),
        (0, 6, "delete", "a", 2, None),  # turn delete
        (0, 7, "update", "a", 2, "a2-dead"),  # after delete: dropped
        (1, 8, "insert", "b", 0, "b0-v1"),
        (1, 9, "insert", "b", 1, "b1-v1"),
        (1, 10, "delete", "b", None, None),  # series delete of b
        (1, 11, "insert", "b", 1, "b1-v2"),  # re-insert after the series delete
        (1, 12, "update", "b", 1, "b1-v3"),
        (1, 13, "update", "b", 0, "b0-dead"),  # b0 wiped: dropped
        (0, 14, "merge", "a", 1, "bad-op"),  # invalid envelopes: never applied
        (0, 15, "insert", None, 1, "null-key"),
        (0, 16, "upsert", "a", 1, None),
    ]
    con.execute("CREATE TABLE t (\"partition\" INT, \"offset\" BIGINT, op VARCHAR, conv_id VARCHAR, "
                "turn_idx INT, txt VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?, ?, ?)", rows)
    con.execute("""CREATE VIEW ev AS SELECT "partition", "offset", op, conv_id, turn_idx,
        CASE WHEN txt IS NULL THEN NULL ELSE {'conv_id': conv_id, 'turn_idx': turn_idx, 'role': 'user',
          'text': txt, 'tool': NULL::VARCHAR, 'ts': TIMESTAMP '2024-01-01'} END AS after FROM t""")
    got = sorted(con.execute(f"SELECT conv_id, turn_idx, text FROM ({fold_sql('ev')})").fetchall())
    want = [("a", 0, "a0-v2"), ("a", 1, "a1-v1"), ("b", 1, "b1-v3")]
    return 0 if got == want else 1


def _log(con, log_dir):
    con.execute(f"""CREATE OR REPLACE VIEW log AS SELECT * FROM
        read_parquet('{log_dir}/*/*.parquet', hive_partitioning = true)""")


def _diff(con, a, b):
    n1 = con.execute(f"SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})").fetchone()[0]
    n2 = con.execute(f"SELECT count(*) FROM (SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a})").fetchone()[0]
    return n1 + n2


def check_cdc(c, out_dir, notes):
    """Final state, lookups, state scans and quarantine; returns mismatches."""
    con = connect()
    _log(con, c["log"])
    up = int(c["upto_chunk"])
    bad = 0
    con.execute(f"CREATE TABLE want AS {fold_sql(f'(SELECT * FROM log WHERE chunk <= {up})')}")
    con.execute(f"CREATE TABLE got AS SELECT {', '.join(COLS)} FROM read_parquet('{out_dir}/final/*.parquet')")
    d = _diff(con, "got", "want")
    if d:
        bad += 1
        notes.append(f"final state: {d} rows differ from the oracle fold")
    if "lookups" in c:
        con.execute(f"CREATE VIEW lk AS SELECT * FROM read_parquet('{c['lookups']}/*.parquet')")
        con.execute(f"""CREATE VIEW lev AS SELECT lk.lookup_id, log.* FROM log
            JOIN lk ON log.conv_id = lk.conv_id AND log.chunk <= lk.upto_chunk""")
        con.execute(f"CREATE TABLE lwant AS {fold_sql('lev', ('lookup_id',))}")
        con.execute(f"""CREATE VIEW lgot AS SELECT lookup_id, {', '.join(COLS)}
            FROM read_parquet('{c['lookup_rows']}/*.parquet')""")
        n = con.execute("""SELECT count(DISTINCT lookup_id) FROM (
            (SELECT * FROM lgot EXCEPT ALL SELECT * FROM lwant)
            UNION ALL (SELECT * FROM lwant EXCEPT ALL SELECT * FROM lgot))""").fetchone()[0]
        if n:
            bad += n
            notes.append(f"{n} point lookups differ from the oracle")
        con.execute(f"CREATE VIEW sc AS SELECT row_number() OVER () AS sid, * FROM read_parquet('{c['scans']}/*.parquet')")
        con.execute("""CREATE VIEW sev AS SELECT sc.sid, log.* FROM log JOIN sc ON log.chunk <= sc.upto_chunk""")
        con.execute(f"""CREATE VIEW swant AS SELECT sid, count(*) AS n FROM ({fold_sql('sev', ('sid',))}) GROUP BY sid""")
        n = con.execute("""SELECT count(*) FROM sc LEFT JOIN swant USING (sid)
            WHERE swant.n IS NULL OR swant.n <> sc.n""").fetchone()[0]
        if n:
            bad += n
            notes.append(f"{n} full-state scans differ from the oracle row count")
    if "injected" in c:
        con.execute(f"""CREATE VIEW q AS SELECT "partition", "offset" FROM
            read_parquet('{c['rejected']}/*/*.parquet', hive_partitioning = true)""")
        con.execute(f"""CREATE VIEW inj AS SELECT "partition", "offset" FROM read_parquet('{c['injected']}/*.parquet')""")
        n_inj = con.execute("SELECT count(*) FROM inj").fetchone()[0]
        d = _diff(con, "q", "inj")
        if d or int(c["engine_rejected"]) != n_inj:
            bad += 1
            notes.append(f"quarantine: {d} rows differ from the {n_inj} injected; "
                         f"engine counted {c['engine_rejected']} rejected")
    return bad


def check_queries(c, out_dir, notes):
    """Each query's rows and column types against its oracle SQL."""
    con = connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{c['data']}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    bad = 0
    for name, sql in sorted(oracle.items()):
        path = f"{c['results']}/{name}/*.parquet"
        try:
            got = con.execute(f"SELECT * FROM '{path}'")
            grows, gcols = got.fetchall(), [x[0] for x in got.description]
            want = con.execute(sql)
            wrows, wcols = want.fetchall(), [x[0] for x in want.description]
            gt = dict((r[0], r[1]) for r in con.execute(f"DESCRIBE SELECT * FROM '{path}'").fetchall())
            wt = dict((r[0], r[1]) for r in con.execute(f"DESCRIBE {sql}").fetchall())
        except Exception as e:  # a missing result or a failing oracle is a mismatch
            bad += 1
            notes.append(f"{name}: {str(e)[:200]}")
            continue
        if sorted(gcols) != sorted(wcols) or gt != wt or canon(grows, gcols) != canon(wrows, wcols):
            bad += 1
            notes.append(f"{name}: result differs from the oracle SQL")
    return bad


def check(out_dir, notes):
    c = json.load(open(f"{out_dir}/check.json"))
    return check_cdc(c, out_dir, notes) if c["kind"] == "cdc" else check_queries(c, out_dir, notes)
