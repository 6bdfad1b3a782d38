"""Local replica of the driver's correctness gate.

Runs each __spark_entry__.queries()[name] on Spark and the matching
oracle_sql()[name] on DuckDB (testdata tables pre-registered as views),
compares row count, schema (column names sorted), and an
order-insensitive value hash with mild float/timestamp normalization.

Usage: python tools/parity.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import hashlib
import sys
from datetime import date, datetime

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join("%s=%s" % (k, norm_cell(v[k])) for k in sorted(v)) + "}"
    try:
        if v != v:  # float('nan'), pd.NaT from the pandas fetch
            return "NULL"
    except (TypeError, ValueError):
        pass
    if isinstance(v, float):
        return "%.6g" % v
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, date):
        return v.isoformat()
    return str(v)


def value_hash(rows: list[tuple], col_order: list[int]) -> str:
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in col_order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def compare(name: str, spark_df, sql: str, con) -> dict:
    # Fetch BOTH sides through pandas to mimic the driver's canonicalizer.
    # Consequences this reproduces (verified round 2, VERDICT.md):
    #  - DuckDB HUGEINT/DECIMAL (un-CAST sum of ints) -> float64
    #  - ANY nullable integer column -> float64, on either side
    # so a hash mismatch happens exactly when the two pandas dtypes
    # disagree (int64 vs float64), even if values are numerically equal.
    spdf = spark_df.toPandas()
    spark_cols = list(spdf.columns)
    spark_rows = [tuple(r) for r in spdf.itertuples(index=False, name=None)]
    res = con.execute(sql)
    duck_cols = [d[0] for d in res.description]
    pdf = res.fetch_df()
    duck_rows = [tuple(r) for r in pdf.itertuples(index=False, name=None)]

    out = {"name": name, "rows_spark": len(spark_rows), "rows_duck": len(duck_rows)}

    def _kind(dt):
        s = str(dt)
        if s.startswith("float"):
            return "float"
        if s.startswith(("int", "uint")):
            return "int"
        return "other"

    duck_dt = {c.lower(): _kind(pdf[c].dtype) for c in pdf.columns}
    dtype_clash = [
        c for c in spdf.columns
        if c.lower() in duck_dt
        and {_kind(spdf[c].dtype), duck_dt[c.lower()]} == {"int", "float"}
    ]
    if dtype_clash:
        out["dtype_clash"] = dtype_clash
    out["rows_match"] = len(spark_rows) == len(duck_rows)
    out["schema_match"] = sorted(c.lower() for c in spark_cols) == sorted(
        c.lower() for c in duck_cols
    )
    if out["schema_match"]:
        s_order = [i for _, i in sorted((c.lower(), i) for i, c in enumerate(spark_cols))]
        d_order = [i for _, i in sorted((c.lower(), i) for i, c in enumerate(duck_cols))]
        sh = value_hash([tuple(r) for r in spark_rows], s_order)
        dh = value_hash(duck_rows, d_order)
        out["hash_match"] = sh == dh
        out["spark_hash"], out["duck_hash"] = sh, dh
    else:
        out["hash_match"] = False
        out["spark_cols"], out["duck_cols"] = spark_cols, duck_cols
    return out


def show_diff(name, spark_df, sql, con, limit=5):
    """Print first differing rows for debugging."""
    spark_cols = spark_df.columns
    order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i].lower())
    s = sorted(
        tuple(norm_cell(r[i]) for i in order) for r in spark_df.collect()
    )
    res = con.execute(sql)
    duck_cols = [d[0] for d in res.description]
    dorder = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i].lower())
    d = sorted(tuple(norm_cell(r[i]) for i in dorder) for r in res.fetchall())
    only_s = [r for r in s if r not in set(d)][:limit]
    only_d = [r for r in d if r not in set(s)][:limit]
    print("  cols(sorted):", [spark_cols[i] for i in order])
    print("  only in spark:", only_s)
    print("  only in duck :", only_d)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:]

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry
    from gogstash_spark.session import get_spark

    # the driver gate always runs at sf0.01; when the replica sweeps
    # another scale, re-point the transcripts-CTE oracles at it
    import gogstash_spark.entrypoints as _ep
    from gogstash_spark.sources.transcripts import ensure_transcripts

    _ep.ORACLE_SF_DIR = ensure_transcripts(sf_dir)

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            "CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')"
            % (t, sf_dir, t)
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    todo = names or sorted(qs)
    failures = 0
    for name in todo:
        if name not in qs:
            print("SKIP %s: no query" % name)
            continue
        df = qs[name](spark, sf_dir)
        if name not in oracles:
            n = df.count()
            print("%-28s rows-only: %d rows" % (name, n))
            continue
        r = compare(name, df, oracles[name], con)
        ok = (
            r["rows_match"] and r["schema_match"] and r["hash_match"]
            and not r.get("dtype_clash")
        )
        if r.get("dtype_clash"):
            print(
                "%-28s DTYPE-CLASH %s: oracle float64 vs spark int — add "
                "CAST(... AS BIGINT) in the oracle SQL" % (name, r["dtype_clash"])
            )
        print(
            "%-28s %s rows=%d/%d schema=%s hash=%s"
            % (
                name,
                "OK " if ok else "FAIL",
                r["rows_spark"],
                r["rows_duck"],
                r["schema_match"],
                r.get("hash_match"),
            )
        )
        if not ok:
            failures += 1
            show_diff(name, qs[name](spark, sf_dir), oracles[name], con)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
