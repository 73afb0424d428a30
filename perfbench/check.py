"""Output checks, run after the timed region. Each returns what was wrong
(forms or pass indexes) so the run can count the affected ops as failed.

The batch workloads compare against the repository's DuckDB oracle SQL
with the rules of its oracle gate: columns sorted by name, rows sorted,
integers/strings exact, floats to 1e-9, and hash-unsafe oracle types
(HUGEINT/DECIMAL) rejected outright."""
import glob
import os
import re

import pandas as pd

HASH_UNSAFE_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")

DOC_COLUMNS = ("{'doc_id': 'BIGINT', 'text': 'VARCHAR', 'lang': 'VARCHAR', "
               "'source': 'VARCHAR', 'n_chars': 'BIGINT'}")


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def same(got, expected):
    """True when the two frames hold the same rows under the gate's rules."""
    got, expected = canon(got), canon(expected)
    if list(got.columns) != list(expected.columns) or len(got) != len(expected):
        return False
    for col in expected.columns:
        e, g = expected[col], got[col]
        exact = not (pd.api.types.is_float_dtype(e) or pd.api.types.is_float_dtype(g))
        try:
            pd.testing.assert_series_equal(g, e, check_dtype=False, check_names=False,
                                           check_exact=exact, rtol=1e-9, atol=1e-9)
        except AssertionError:
            return False
    return True


def materialized(sql):
    """The same query with every plain CTE computed once (``AS
    MATERIALIZED``). DuckDB otherwise inlines a CTE at each reference, and
    the curation oracle references its pair table from inside a recursive
    CTE, recomputing the quadratic pair join once per iteration."""
    return re.sub(r"^(WITH RECURSIVE |WITH )?(\w+) AS \(", r"\1\2 AS MATERIALIZED (",
                  sql, flags=re.M)


def oracle(con, sql):
    sql = materialized(sql)
    bad = [(n, t) for n, t, *_ in con.execute(f"DESCRIBE {sql}").fetchall()
           if any(t.upper().startswith(u) for u in HASH_UNSAFE_TYPES)]
    if bad:
        raise ValueError(f"hash-unsafe oracle column types {bad}")
    return con.execute(sql).fetchdf()


def skew(con, inputs, out, sql, forms):
    """Forms whose result differs from the oracle."""
    con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM "
                f"read_parquet('{inputs}/events.parquet')")
    expected = oracle(con, sql)
    return [f for f in forms if not same(
        con.execute(f"SELECT * FROM read_parquet('{out}/skew_{f}/*.parquet')").fetchdf(),
        expected)]


def curation(con, inputs, out, sql, passes):
    """Pass indexes whose written shards differ from the oracle."""
    con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_json("
                f"'{inputs}/docs/*.jsonl', format='newline_delimited', "
                f"columns={DOC_COLUMNS})")
    expected = oracle(con, sql)
    wrong = []
    for i in passes:
        files = glob.glob(f"{out}/curate/pass_{i}/*/*.parquet")
        if not files:
            wrong.append(i)
            continue
        got = con.execute(
            f"SELECT doc_id, lang, n_chars, n_tokens, quality_score, cum_bytes, "
            f"CAST(shard AS BIGINT) AS shard FROM read_parquet("
            f"'{out}/curate/pass_{i}/*/*.parquet', hive_partitioning = 1)").fetchdf()
        if not same(got, expected):
            wrong.append(i)
    return wrong


def files_written(out, passes):
    return [len(glob.glob(f"{out}/curate/pass_{i}/*/*.parquet")) for i in passes]


def stream(emitted, batch, passes):
    """Pass indexes whose emitted rows are not exactly the batch
    identifier's rows over a per-group finalized prefix: per group, the
    emitted orders must be every order up to the largest one emitted, each
    once, with the batch id."""
    wrong = []
    for p in passes:
        e = emitted[emitted["pass"] == p][["groupKey", "order", "iids"]]
        if e.empty or e.duplicated(["groupKey", "order"]).any():
            wrong.append(p)
            continue
        cut = e.groupby("groupKey")["order"].max().rename("cut").reset_index()
        prefix = batch.merge(cut, on="groupKey")
        prefix = prefix[prefix["order"] <= prefix["cut"]][["groupKey", "order", "iids"]]
        if not same(e.reset_index(drop=True), prefix.reset_index(drop=True)):
            wrong.append(p)
    return wrong


def read_parquet_dir(con, path):
    if not os.path.isdir(path):
        return pd.DataFrame()
    return con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").fetchdf()
