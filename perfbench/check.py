"""Correctness checks for perfbench results, run after the timed region.

- Query keys: each result the driver dumped is compared with its
  SparkEntry.oracleSql query run by DuckDB over the same generated
  inputs, using the type and value comparison of scripts/localcheck.py.
- Medallion: refined row, key, null and segment counts, the audit rows
  and order-independent digests of the refined and upserted layers are
  compared with the values gen.py derived from its own rows.

Each check returns {name: error-or-None}.
"""
import glob
import os
import sys

import duckdb
import pyarrow.parquet as pq

import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts"))
from localcheck import TABLES, read_spark, type_label, values_equal  # noqa: E402


def oracle(out_dir, input_dir, oracle_sql, keys):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(input_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    status = {}
    for k in keys:
        try:
            status[k] = _compare(con, os.path.join(out_dir, k),
                                 oracle_sql.get(k))
        except Exception as e:  # a dump or oracle that cannot be read
            status[k] = f"{type(e).__name__}: {e}"[:300]
    return status


def _compare(con, result_dir, sql):
    if sql is None:
        return "no oracle SQL"
    if not glob.glob(os.path.join(result_dir, "*.parquet")):
        return "no result written"
    spark = read_spark(result_dir)
    spark = spark.select(sorted(spark.column_names))
    ora = con.execute(sql).arrow()
    if hasattr(ora, "read_all"):
        ora = ora.read_all()
    ora = ora.select(sorted(ora.column_names))
    if spark.num_rows == 0:
        return "empty result"
    if spark.column_names != ora.column_names:
        return f"columns {spark.column_names} != {ora.column_names}"
    if spark.num_rows != ora.num_rows:
        return f"rows {spark.num_rows} != {ora.num_rows}"
    for c in spark.column_names:
        st = type_label(spark.schema.field(c).type)
        ot = type_label(ora.schema.field(c).type)
        if st != ot:
            return f"{c}: type {st} != {ot}"
    for c in spark.column_names:
        for i, (x, y) in enumerate(zip(spark.column(c).to_pylist(),
                                       ora.column(c).to_pylist())):
            if not values_equal(x, y):
                return f"{c}[{i}]: {x!r} != {y!r}"
    return None


def _rows(path):
    t = pq.read_table(path, columns=["codigo", "descricao", "segmento"])
    return list(zip(*(t.column(c).to_pylist() for c in t.column_names)))


def medallion(out_dir, expected, audit_rows):
    def refined():
        rows = _rows(os.path.join(out_dir, "refined"))
        segs = {}
        for r in rows:
            segs[r[2]] = segs.get(r[2], 0) + 1
        nulls = sum(1 for r in rows if r[1] is None)
        if (len(rows), nulls, segs, gen.refined_digest(rows)) != (
                expected["refined_rows"], expected["refined_nulls"],
                expected["segments"], expected["refined_digest"]):
            return f"rows {len(rows)} nulls {nulls} segments {segs}"

    def audit():
        want = {(t, expected["refined_rows"], expected["refined_keys"],
                 expected["refined_nulls"]) for t in ("refined", "trusted")}
        got = {tuple(r) for r in audit_rows}
        if got != want:
            return f"audit rows {sorted(got)}"

    def upsert():
        rows = _rows(os.path.join(out_dir, "upsert"))
        if (len(rows), gen.refined_digest(rows)) != (
                expected["upsert_rows"], expected["upsert_digest"]):
            return f"upsert rows {len(rows)}"

    def partitioned():
        part = {}
        for seg in expected["segments"]:
            d = os.path.join(out_dir, "partitioned", f"segmento={seg}")
            part[seg] = pq.read_table(d).num_rows if os.path.isdir(d) else 0
        if part != expected["segments"]:
            return f"partitions {part}"

    status = {}
    for op, fn in (("trusted_to_refined", refined), ("audit", audit),
                   ("upsert", upsert), ("partitioned_write", partitioned)):
        try:
            status[op] = fn()
        except Exception as e:  # an output that is missing or unreadable
            status[op] = f"{type(e).__name__}: {e}"[:300]
    return status
