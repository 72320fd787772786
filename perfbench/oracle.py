"""Output oracle: checks every timed op's result in DuckDB, after the run.

Exact results are compared as order-independent fingerprints (row count
plus the sum of per-row hashes over canonicalized columns), the method
of the engine's tools/check_hash.py, copied here so that edits to the
engine's fixtures cannot change what the benchmark checks. Approximate
results (MinHash pairs) are checked by recomputing the similarity of
every returned pair. Replay records (the keyed-table writes) re-apply each write in DuckDB,
so later reads and the final table state compare against the replayed
state.
"""
import json
import os

import duckdb
import pyarrow as pa

from gen import TABLES


def connect(corpus):
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    for t in TABLES:
        p = os.path.join(corpus, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def canon_expr(name, typ):
    t = typ.upper()
    q = f'"{name}"'
    if "[" in t or "STRUCT" in t or "MAP" in t:
        return f"to_json({q})::VARCHAR"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return f"CAST({q} AS BIGINT)"
    if t in ("DOUBLE", "FLOAT", "REAL") or t.startswith("DECIMAL"):
        # six significant digits, after a 1e-9 relative nudge: sums of
        # doubles differ across engines near 1e-13 relative, and values
        # built from short decimals (prices, discounts) often sit exactly
        # on a rounding tie, which the nudge moves off for both sides
        return (f"(CASE WHEN {q} IS NULL THEN NULL WHEN {q} = 0 THEN 0.0 "
                f"ELSE round(CAST({q} AS DOUBLE) * (1 + 1e-9), CAST(5 - floor(log10(abs("
                f"CAST({q} AS DOUBLE)))) AS INTEGER)) + 0.0 END)")
    if "TIMESTAMP" in t or t == "DATE" or "TIME" in t:
        return f"CAST({q} AS VARCHAR)"
    return q


def fingerprint(con, sql):
    desc = con.execute(f"DESCRIBE SELECT * FROM ({sql})").fetchall()
    cols = sorted((r[0], r[1]) for r in desc)
    exprs = ", ".join(canon_expr(n, t) + f' AS "{n}"' for n, t in cols)
    pack = ", ".join(f'c{i} := "{n}"' for i, (n, _) in enumerate(cols))
    n, h = con.execute(
        f"SELECT count(*), sum(hash(struct_pack({pack}))) FROM "
        f"(SELECT {exprs} FROM ({sql}))").fetchone()
    return sorted(c for c, _ in cols), n, h


ARROW = {"BIGINT": pa.int64(), "DOUBLE": pa.float64(), "BOOLEAN": pa.bool_(),
         "VARCHAR": pa.string()}


def rows_table(rec):
    arrays, names = [], []
    for j, (name, typ) in enumerate(rec["cols"]):
        vals = [r[j] for r in rec["rows"]]
        if typ == "TIMESTAMP":
            arr = pa.array(vals, pa.int64()).cast(pa.timestamp("us"))
        elif typ == "DATE":
            arr = pa.array(vals, pa.int32()).cast(pa.date32())
        else:
            arr = pa.array(vals, ARROW[typ])
        arrays.append(arr)
        names.append(name)
    return pa.Table.from_arrays(arrays, names=names)


def parquet_sql(path):
    return f"SELECT * FROM read_parquet('{path}/*.parquet')"


class Oracle:
    """`stateful`: the oracle tables change between records (replayed
    writes), so expected fingerprints must not be cached."""

    def __init__(self, corpus, stateful):
        self.con = connect(corpus)
        self.cache = None if stateful else {}

    def expected(self, sql):
        if self.cache is None:
            return fingerprint(self.con, sql)
        if sql not in self.cache:
            self.cache[sql] = fingerprint(self.con, sql)
        return self.cache[sql]

    def same(self, got_sql, oracle_sql):
        got = fingerprint(self.con, got_sql)
        want = self.expected(oracle_sql)
        if got != want:
            return f"fingerprint {got} != oracle {want}"
        return None

    def check_rows(self, rec):
        self.con.register("engine_rows", rows_table(rec))
        try:
            return self.same("SELECT * FROM engine_rows", rec["oracle"])
        finally:
            self.con.unregister("engine_rows")

    def check_sorted(self, path, cols):
        def after(k):
            if k == len(cols):
                return "FALSE"
            c, desc = cols[k]
            op = "<" if desc else ">"
            return f'(p{k} {op} "{c}" OR (p{k} = "{c}" AND {after(k + 1)}))'
        lags = ", ".join(f'lag("{c}") OVER w AS p{k}' for k, (c, _) in enumerate(cols))
        bad = self.con.execute(
            f"SELECT count(*) FROM (SELECT *, {lags} FROM read_parquet('{path}/*.parquet', "
            f"filename = true, file_row_number = true) "
            f"WINDOW w AS (ORDER BY filename, file_row_number)) WHERE p0 IS NOT NULL "
            f"AND {after(0)}").fetchone()[0]
        return f"{bad} rows out of order" if bad else None

    def check_pairs(self, rec):
        """Approximate near-duplicate pairs (id_a, id_b, jaccard): every
        pair names two known documents once, in id order, and its reported
        Jaccard similarity of word n-gram sets is recomputed here and must
        match and clear the threshold."""
        src = parquet_sql(rec["path"])
        n = rec["n"]
        grams = (f"list_distinct(list_transform(range(1, len(string_split(text, ' ')) - {n - 2}), "
                 f"i -> array_to_string(string_split(text, ' ')[i:i + {n - 1}], ' ')))")
        docs = f"(SELECT doc_id, {grams} AS g FROM documents)"
        q = (f"SELECT p.id_a, p.id_b, p.jaccard AS rep, "
             f"len(list_intersect(a.g, b.g)) / len(list_distinct(list_concat(a.g, b.g))) AS sim "
             f"FROM ({src}) AS p JOIN {docs} AS a ON a.doc_id = p.id_a "
             f"JOIN {docs} AS b ON b.doc_id = p.id_b")
        n_out, unordered = self.con.execute(
            f"SELECT count(*), count_if(id_a >= id_b) FROM ({src})").fetchone()
        n_join, n_low, n_off, n_dup = self.con.execute(
            f"SELECT count(*), count_if(sim < {rec['threshold']} - 1e-9), "
            f"count_if(abs(rep - round(sim, 4)) > 2e-4), "
            f"count(*) - count(DISTINCT (id_a, id_b)) FROM ({q})").fetchone()
        if n_join != n_out:
            return f"{n_out - n_join} pairs name unknown ids"
        if n_low or n_off or n_dup or unordered:
            return (f"{n_low} below threshold, {n_off} with wrong similarity, "
                    f"{n_dup} duplicates, {unordered} not ordered id_a < id_b")
        return None

    def check(self, rec):
        """Checks one record; returns None when it passes, else a reason."""
        c = rec["check"]
        for stmt in c.get("replay", []):
            self.con.execute(stmt)
        t = c["type"]
        if rec.get("error"):
            return rec["error"]
        if t == "replay":
            return None
        if t == "error":
            return c.get("message", "failed")
        if t == "rows":
            return self.check_rows(c)
        if t == "parquet":
            why = self.same(parquet_sql(c["path"]), c["oracle"])
            if why is None and c.get("sorted_by"):
                why = self.check_sorted(c["path"], c["sorted_by"])
            return why
        if t == "pairs":
            return self.check_pairs(c)
        return f"unknown check {t}"


def check_run(ops_file, corpus, stateful):
    """Returns (attempted, failed, failures) over a run's op log. Timed
    ops and final-state checks count. Warm-up records only replay their
    writes (the warm-up runs the same ops on every seed); one that threw
    counts as a failed op."""
    oracle = Oracle(corpus, stateful)
    attempted, failed, failures = 0, 0, []
    with open(ops_file) as f:
        for line in f:
            rec = json.loads(line)
            if rec.get("warm"):
                why = rec.get("error")
                try:
                    for stmt in rec["check"].get("replay", []):
                        oracle.con.execute(stmt)
                except Exception as e:
                    why = f"oracle error: {e}"
                if why:
                    failures.append((rec["name"], f"warm-up: {why}"))
                    failed += 1
                    attempted += 1
                continue
            try:
                why = oracle.check(rec)
            except Exception as e:  # a check that cannot run is a failure
                why = f"oracle error: {e}"
            attempted += 1
            if why:
                failed += 1
                failures.append((rec["name"], why))
    return attempted, failed, failures
