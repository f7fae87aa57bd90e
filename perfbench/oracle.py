"""Per-job output check against DuckDB, with the comparison rules of
tools/check_oracle.py: columns matched by name, equal column types, equal row
count, and equal rows in order, NaN equal to NaN. The rows are compared
inside DuckDB (one positional join per job), and each oracle query runs once
per run however many jobs share it.
"""
import duckdb


def _quote(name):
    return '"' + name.replace('"', '""') + '"'


class Oracle:
    def __init__(self, data_dir, tables, threads):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {int(threads)}")
        self.con.execute("SET memory_limit = '2GB'")
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        self.expected = {}

    def _expected(self, sql):
        """Materializes the oracle result once, numbering its rows in order."""
        if sql not in self.expected:
            name = f"oracle_{len(self.expected)}"
            self.con.execute(f"CREATE TEMP TABLE {name}_raw AS {sql}")
            self.con.execute(f"CREATE TABLE {name} AS SELECT row_number() OVER"
                             f" (ORDER BY rowid) AS rn_, * FROM {name}_raw")
            self.con.execute(f"DROP TABLE {name}_raw")
            rel = self.con.table(name)
            self.expected[sql] = (name, {c: str(t) for c, t in zip(rel.columns, rel.types)
                                         if c != "rn_"})
        return self.expected[sql]

    def columns(self, sql):
        return list(self._expected(sql)[1])

    def table_stats(self, sql, expr):
        """Evaluates `expr` over the oracle result of `sql`."""
        name, _ = self._expected(sql)
        return self.con.execute(f"SELECT {expr} FROM {name}").fetchone()

    def check(self, sql, out_dir):
        """Returns None when the parquet result under `out_dir` equals the
        oracle result of `sql`, else a one-line reason."""
        name, want = self._expected(sql)
        src = (f"read_parquet('{out_dir}/*.parquet', filename = true,"
               f" file_row_number = true)")
        rel = self.con.sql(f"SELECT * FROM {src}")
        got = {c: str(t) for c, t in zip(rel.columns, rel.types)
               if c not in ("filename", "file_row_number")}
        if sorted(got) != sorted(want):
            return f"SCHEMA MISMATCH spark={sorted(got)} oracle={sorted(want)}"
        types = [(c, got[c], want[c]) for c in sorted(got) if got[c] != want[c]]
        if types:
            return f"TYPE MISMATCH {types}"
        cols = sorted(got)
        diff = " OR ".join(f"s.{_quote(c)} IS DISTINCT FROM o.{_quote(c)}" for c in cols)
        sel = ", ".join(_quote(c) for c in cols)
        n_got, n_want, n_diff, first = self.con.execute(f"""
            WITH s AS (SELECT row_number() OVER (ORDER BY filename, file_row_number) AS rn_,
                              {sel} FROM {src})
            SELECT count(s.rn_), count(o.rn_),
                   count(*) FILTER (WHERE s.rn_ = o.rn_ AND ({diff})),
                   min(s.rn_) FILTER (WHERE s.rn_ = o.rn_ AND ({diff}))
            FROM s FULL OUTER JOIN {name} o ON s.rn_ = o.rn_""").fetchone()
        if n_got != n_want:
            return f"ROWCOUNT MISMATCH spark={n_got} oracle={n_want}"
        if n_diff:
            return f"VALUE MISMATCH {n_diff} differing rows; first at row {first}"
        return None
