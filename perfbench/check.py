"""Output checks, run after the timed region.

* Queries: each query's last result (written by the JVM as parquet) must
  match its ``SparkEntry.oracleSql`` evaluated by DuckDB over the same
  generated tables: same row count and the same order-independent hash of
  canonical rows (columns sorted by name, floats to 9 significant digits,
  as ``scripts/check_oracle.py`` compares them). When only the hash
  differs, the sorted rows are compared pairwise with floats equal within a
  relative ``FLOAT_REL_TOL``: the two engines round a binary-inexact decimal
  tie differently (``round(percentile(x, 0.5), 2)`` of 252605.545 is
  252605.54 in Spark and 252605.55 in DuckDB). A negative probe evaluates
  the same oracles over a corpus generated from another seed; it must
  disagree, or the comparison is vacuous.
* Crawl: every curated table's row count must equal what the generator
  implies, the merge-on-read views must agree with the rewritten tables,
  and compaction must not change any view.
"""
import hashlib
import json
import math
import os

import gen

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
FLOAT_REL_TOL = 1e-7


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "f:NaN" if math.isnan(v) else f"f:{v:.9g}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def _close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return _norm(a) == _norm(b) or abs(a - b) <= FLOAT_REL_TOL * max(abs(a), abs(b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return _norm(a) == _norm(b)


class Result:
    """A result set with columns sorted by name and rows sorted canonically."""

    def __init__(self, cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        self.cols = [cols[i] for i in order]
        keyed = sorted(("|".join(_norm(r[i]) for i in order), tuple(r[i] for i in order))
                       for r in rows)
        self.lines = [k for k, _ in keyed]
        self.rows = [r for _, r in keyed]
        self.hash = hashlib.sha256("\n".join(self.lines).encode()).hexdigest()

    def matches(self, other):
        return self.cols == other.cols and len(self.rows) == len(other.rows) and (
            self.hash == other.hash or all(_close(a, b) for a, b in zip(self.rows, other.rows)))


def _connect(data_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _result(con, sql):
    cur = con.execute(sql)
    return Result([d[0] for d in cur.description], cur.fetchall())


def _compare(data_dir, out_dir, names, oracles):
    """Per query: None when Spark's result matches the oracle, else why not."""
    con = _connect(data_dir)
    verdict = {}
    for n in names:
        spark_dir = os.path.join(out_dir, n)
        if n not in oracles:
            verdict[n] = "no oracle SQL"
        elif not os.path.isdir(spark_dir):
            verdict[n] = "no Spark result (every timed run failed)"
        else:
            try:
                want = _result(con, oracles[n])
                got = _result(con, f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')")
            except Exception as e:  # a broken oracle or result file is a failed check
                verdict[n] = f"error: {e}"
                continue
            if got.cols != want.cols:
                verdict[n] = f"columns spark={got.cols} oracle={want.cols}"
            elif not got.matches(want):
                verdict[n] = f"rows spark={len(got.rows)} oracle={len(want.rows)}, values differ"
            else:
                verdict[n] = None
    return verdict


def queries(work, names, seed, oracle_seed, sf):
    out = os.path.join(work, "out")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    data = os.path.join(work, "data")
    if oracle_seed != seed:
        data = os.path.join(work, "oracle-data")
        gen.warehouse(data, oracle_seed, sf)
    problems = [f"{n}: {why}" for n, why in _compare(data, out, names, oracles).items() if why]
    # negative probe: the same results against another seed's corpus
    probe = os.path.join(work, "probe")
    gen.warehouse(probe, seed + 1_000_003, sf)
    flagged = sum(1 for why in _compare(probe, out, names, oracles).values() if why)
    print(f"negative probe: {flagged}/{len(names)} queries disagree with another seed's oracle")
    if flagged * 2 < len(names):
        problems.append(f"negative probe flagged only {flagged}/{len(names)} queries")
    return problems


def crawl(detail, facts):
    day = facts[detail["days"]]
    problems = []
    if detail["staged_rows_last_day"] != day["docs"]:
        problems.append(f"staging kept {detail['staged_rows_last_day']} rows of "
                        f"{day['docs']} well-formed documents ({day['lines']} lines)")
    for t, got in sorted(detail["tables"].items()):
        want, want_mor = day["tables"].get(t, 0), day["mor_tables"].get(t, 0)
        if got["rows"] != want:
            problems.append(f"{t}: {got['rows']} rows, generator implies {want}")
        if got["mor_rows"] != want_mor:
            problems.append(f"{t}: merge-on-read view has {got['mor_rows']} rows, "
                            f"generator implies {want_mor}")
        if not got["mor_agrees"]:
            problems.append(f"{t}: merge-on-read view disagrees with the rewritten table")
        if not got["compact_agrees"]:
            problems.append(f"{t}: view changed across compaction")
    return problems
