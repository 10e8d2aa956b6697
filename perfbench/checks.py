"""Output checks, run after the timed region. Each returns a list of
failure messages; every message counts once in ``failed``.

* query_mix: each key's result equals its ``SparkEntry.oracleSql`` run in
  DuckDB, under the rules of ``scripts/local_oracle.py`` (column names,
  DuckDB column types, values and row order), and every timed execution
  returned the verified row count.
* curate: every planted exact duplicate is gone, no two survivors share a
  normalized-text hash, and no cluster consists only of null-text docs.
* table_cdc: the final table and the stream sink equal a reference state
  built by applying the same change stream in DuckDB.
"""
import json

import duckdb

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events")


def run(workload, inputs, out, res):
    return {"curate": curate, "query_mix": query_mix,
            "table_cdc": table_cdc}[workload](inputs, out, res)


def _connect():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    return con


def query_mix(inputs, out, res):
    con = _connect()
    for t in STAR_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{inputs}/{t}.parquet')")
    with open(f"{out}/oracle_sql.json") as f:
        oracle = json.load(f)
    fails, expected_rows = [], {}
    for key in sorted(oracle):
        try:
            con.execute(f"CREATE OR REPLACE VIEW _exp AS {oracle[key]}")
            con.execute("CREATE OR REPLACE VIEW _got AS SELECT * FROM "
                        f"read_parquet('{out}/query/{key}/*.parquet')")
            exp_t = dict(con.execute("SELECT column_name, column_type FROM "
                                     "(DESCRIBE _exp)").fetchall())
            got_t = dict(con.execute("SELECT column_name, column_type FROM "
                                     "(DESCRIBE _got)").fetchall())
            if sorted(exp_t) != sorted(got_t):
                fails.append(f"{key}: columns exp={sorted(exp_t)} got={sorted(got_t)}")
                continue
            if exp_t != got_t:
                fails.append(f"{key}: column types exp={exp_t} got={got_t}")
                continue
            cols = ", ".join(f'"{c}"' for c in sorted(exp_t))
            exp = con.execute(f"SELECT {cols} FROM _exp").fetchall()
            got = con.execute(f"SELECT {cols} FROM _got").fetchall()
            expected_rows[key] = len(exp)
            if exp != got:
                i = next((i for i, (a, b) in enumerate(zip(exp, got)) if a != b),
                         min(len(exp), len(got)))
                fails.append(f"{key}: rows exp={len(exp)} got={len(got)}, "
                             f"first difference at row {i}")
        except Exception as e:  # noqa: BLE001 - any oracle error is a failure
            fails.append(f"{key}: {type(e).__name__}: {e}")
    for r in res["roots"]:
        key, rows = r["attrs"].get("key"), r["attrs"].get("rows")
        if key in expected_rows and rows != expected_rows[key]:
            fails.append(f"{key}: a timed execution returned {rows} rows, "
                         f"expected {expected_rows[key]}")
    return fails


def curate(inputs, out, res):
    con = _connect()
    con.execute(f"CREATE VIEW corpus AS SELECT * FROM "
                f"read_parquet('{inputs}/corpus/*.parquet')")
    con.execute(f"CREATE VIEW planted AS SELECT * FROM "
                f"read_parquet('{inputs}/planted.parquet')")
    con.execute(f"CREATE VIEW surv AS SELECT * FROM "
                f"read_parquet('{out}/survivors/*.parquet')")
    con.execute(f"CREATE VIEW clusters AS SELECT * FROM "
                f"read_parquet('{out}/clusters/*.parquet')")
    fails = []
    # an exact-copy group is the original (grp) plus its planted copies
    n = con.execute("""
        WITH grp AS (SELECT grp AS doc_id, grp FROM planted WHERE kind = 'exact'
                     UNION SELECT doc_id, grp FROM planted WHERE kind = 'exact')
        SELECT count(*) FROM (SELECT grp FROM grp JOIN surv USING (doc_id)
                              GROUP BY grp HAVING count(*) > 1)""").fetchone()[0]
    if n:
        fails.append(f"curate: {n} planted exact-duplicate groups keep more "
                     "than one survivor")
    n = con.execute("""
        SELECT count(*) FROM (SELECT md5(nfc_normalize(text)) FROM surv
                              GROUP BY 1 HAVING count(*) > 1)""").fetchone()[0]
    if n:
        fails.append(f"curate: {n} normalized-text hashes shared by survivors")
    n = con.execute("""
        SELECT count(*) FROM (SELECT cluster_id FROM clusters JOIN corpus
                              USING (doc_id) GROUP BY cluster_id
                              HAVING bool_and(text IS NULL))""").fetchone()[0]
    if n:
        fails.append(f"minhashComponents: {n} clusters consist only of "
                     "null-text docs")
    return fails


def table_cdc(inputs, out, res):
    """Replay the applied prefix of the change stream in DuckDB."""
    con = _connect()
    con.execute(f"CREATE TABLE ref AS SELECT * FROM "
                f"read_parquet('{inputs}/cdc_base.parquet')")
    con.execute(f"CREATE TABLE ch AS SELECT * FROM "
                f"read_parquet('{inputs}/cdc_changes.parquet')")
    with open(f"{inputs}/cdc_schedule.json") as f:
        schedule = json.load(f)
    cols = [c for c, in con.execute(
        "SELECT column_name FROM (DESCRIBE ref)").fetchall()]
    sel = ", ".join(cols)
    for st in schedule[:res["extra"]["applied_steps"]]:
        b, verb = st["step"], st["verb"]
        batch = f"(SELECT {sel} FROM ch WHERE batch = {b})"
        keys = f"(SELECT row_id FROM ch WHERE batch = {b})"
        if verb == "append":
            con.execute(f"INSERT INTO ref {batch}")
        elif verb == "upsert":
            con.execute(f"DELETE FROM ref WHERE row_id IN {keys}")
            con.execute(f"INSERT INTO ref {batch}")
        elif verb == "merge":
            new = con.execute(
                f"SELECT row_id FROM ch WHERE batch = {b} AND l_linestatus <> 'D' "
                "AND row_id NOT IN (SELECT row_id FROM ref)").fetchall()
            con.execute(f"DELETE FROM ref WHERE row_id IN (SELECT row_id FROM ch "
                        f"WHERE batch = {b} AND l_linestatus = 'D')")
            con.execute(
                "UPDATE ref SET l_quantity = s.l_quantity, "
                "l_extendedprice = s.l_extendedprice, l_discount = s.l_discount, "
                "l_linestatus = s.l_linestatus FROM ch s WHERE s.batch = "
                f"{b} AND s.row_id = ref.row_id AND s.l_linestatus <> 'D'")
            if new:
                ids = ",".join(str(r) for r, in new)
                con.execute(f"INSERT INTO ref SELECT {sel} FROM ch WHERE batch = "
                            f"{b} AND row_id IN ({ids})")
        elif verb == "delete_mor":
            con.execute(f"DELETE FROM ref WHERE row_id IN {keys}")
    fails = []
    con.execute(f"CREATE VIEW fin AS SELECT {sel} FROM "
                f"read_parquet('{out}/table_final/*.parquet')")
    con.execute(f"CREATE VIEW sink AS SELECT _change_type, {sel} FROM "
                f"read_parquet('{out}/sink/*.parquet')")
    diff = con.execute(
        "SELECT (SELECT count(*) FROM (SELECT * FROM fin EXCEPT ALL SELECT * FROM ref)),"
        " (SELECT count(*) FROM (SELECT * FROM ref EXCEPT ALL SELECT * FROM fin))"
    ).fetchone()
    if diff != (0, 0):
        fails.append(f"table_cdc: final table differs from the reference "
                     f"({diff[0]} extra, {diff[1]} missing rows)")
    net = (f"SELECT {sel}, sum(CASE _change_type WHEN 'insert' THEN 1 ELSE -1 END)"
           f" AS m FROM sink GROUP BY ALL HAVING m <> 0")
    bad = con.execute(f"SELECT count(*) FROM ({net}) WHERE m <> 1").fetchone()[0]
    diff = con.execute(
        f"SELECT (SELECT count(*) FROM (SELECT {sel} FROM ({net}) EXCEPT ALL "
        "SELECT * FROM ref)), (SELECT count(*) FROM (SELECT * FROM ref EXCEPT ALL "
        f"SELECT {sel} FROM ({net})))").fetchone()
    if bad or diff != (0, 0):
        fails.append(f"table_cdc: stream sink differs from the reference "
                     f"({diff[0]} extra, {diff[1]} missing rows, {bad} rows "
                     "with a net count other than 0 or 1)")
    return fails
