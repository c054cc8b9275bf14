"""Checks the harness's outputs against DuckDB's run of the contract oracles.

DuckDB reads the same generated parquet inputs, runs each query's oracle SQL
once, and every round's Spark output must equal that result as an exact
multiset, in both directions (`EXCEPT ALL` each way), with columns matched by
name. Floating-point values are compared exactly: the contract's oracles are
built so that exact equality holds.

Each run also tests the checker itself on one real output: a copy with one
value changed and a copy with one row dropped must both be reported as
mismatches, or the run is not correct.
"""
import glob
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import gen


def connect(data):
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
    except duckdb.Error:
        pass
    for t in gen.TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _cols(con, rel_sql):
    return [r[0] for r in con.execute(f"DESCRIBE {rel_sql}").fetchall()]


def compare(con, got_dir, oracle_table):
    """None when the parquet files under got_dir equal the oracle table as a
    multiset of rows; otherwise a one-line reason."""
    files = glob.glob(os.path.join(got_dir, "*.parquet"))
    if not files:
        return "no output files"
    got = f"read_parquet({[f for f in sorted(files)]!r})"
    try:
        gc = sorted(_cols(con, f"SELECT * FROM {got}"))
        oc = sorted(_cols(con, f"SELECT * FROM {oracle_table}"))
        if gc != oc:
            return f"columns differ: got {gc}, oracle {oc}"
        sel = ", ".join(f'"{c}"' for c in gc)
        extra = con.execute(f"SELECT count(*) FROM (SELECT {sel} FROM {got} EXCEPT ALL "
                            f"SELECT {sel} FROM {oracle_table})").fetchone()[0]
        missing = con.execute(f"SELECT count(*) FROM (SELECT {sel} FROM {oracle_table} "
                              f"EXCEPT ALL SELECT {sel} FROM {got})").fetchone()[0]
    except duckdb.Error as e:
        return f"compare error: {str(e).splitlines()[0]}"
    if extra or missing:
        return f"{extra} rows not in the oracle, {missing} oracle rows missing"
    return None


def check_rounds(res, dirs, out, work):
    """Verdict over every (round, query) of a harness result; `dirs` maps
    each query to the directory of the inputs it read."""
    cons = {d: connect(d) for d in set(dirs.values())}
    rounds = res["rounds"]
    names = [q["name"] for q in rounds[0]["queries"]]
    problems, failed, mismatched = [], 0, 0
    selftest = None
    for i, name in enumerate(names):
        con = cons[dirs[name]]
        try:
            con.execute(f"CREATE OR REPLACE TEMP TABLE oracle AS {res['oracle'][name]}")
        except duckdb.Error as e:
            problems.append(f"{name}: oracle SQL failed: {str(e).splitlines()[0]}")
            failed += len(rounds)
            mismatched += len(rounds)
            continue
        for r, rnd in enumerate(rounds, start=1):
            q = rnd["queries"][i]
            if q["error"] is not None:
                failed += 1
                problems.append(f"{name} round {r} threw: {q['error'][:300]}")
                continue
            got = os.path.join(out, f"r{r}", name)
            why = compare(con, got, "oracle")
            if why:
                failed += 1
                mismatched += 1
                problems.append(f"{name} round {r}: {why}")
            elif selftest is None and pq.read_metadata(
                    glob.glob(os.path.join(got, "*.parquet"))[0]).num_rows >= 2:
                selftest = self_test(con, got, os.path.join(work, "selftest"))
        con.execute("DROP TABLE oracle")
    if selftest is None:
        selftest = "no output with two or more rows to tamper with"
    if selftest:
        problems.append(f"checker self-test: {selftest}")
    return {"correct": mismatched == 0 and not selftest,
            "attempted": len(rounds) * len(names), "failed": failed, "problems": problems}


def _tamper_value(table):
    """The table with one value of its first row changed, or None."""
    row = table.slice(0, 1).to_pylist()[0]
    for name in table.column_names:
        v = row[name]
        if isinstance(v, bool):
            new = not v
        elif isinstance(v, (int, float)):
            new = v + 1 if v == v else 0.0
        elif isinstance(v, str):
            new = v + "~"
        else:
            continue
        i = table.column_names.index(name)
        col = table.column(i).to_pylist()
        col[0] = new
        return table.set_column(i, table.field(i), pa.array(col, table.field(i).type))
    return None


def self_test(con, got, where):
    """Empty when both tampered copies of the output in `got` are caught by
    `compare` against the `oracle` table, else what went wrong."""
    table = pq.read_table(got)
    cases = {"dropped": table.slice(1), "changed": _tamper_value(table)}
    for case, t in cases.items():
        if t is None:
            return f"no value of {got} can be changed"
        d = os.path.join(where, case)
        os.makedirs(d, exist_ok=True)
        pq.write_table(t, os.path.join(d, "part-0.parquet"))
        if compare(con, d, "oracle") is None:
            return f"a copy with one row {case} passed the check"
    return ""
