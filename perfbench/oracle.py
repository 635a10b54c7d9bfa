"""Registry oracle comparison, following the rules of the repository's oracle
compare: column names, row counts and cell values (rows sorted) bit-exact,
floats compared through float.hex(), and each column's DuckDB type compared
by hash class. DuckDB oracle results are cached by SQL text and sf
directory; `python3 perfbench/oracle.py --rebuild` recomputes every cached
entry from its stored SQL.
"""
import decimal
import glob
import hashlib
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
HERE = os.path.dirname(os.path.abspath(__file__))
COMMITTED = os.path.join(HERE, "oracle_cache.json")
LOCAL_CACHE = os.path.join(os.path.dirname(HERE), ".bench_build", "perfbench",
                           "oracle_cache.json")
INT_LANE = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
            "UTINYINT", "USMALLINT", "UINTEGER"}


def norm(v):
    if v is None:
        return ("\x00null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        return ("f", v.hex())
    if isinstance(v, (list, tuple)):
        return ("l",) + tuple(norm(x) for x in v)
    if isinstance(v, decimal.Decimal):
        return ("d", str(v.normalize()))
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    return (type(v).__name__, str(v))


def hash_class(t):
    """Types the hash gate cannot tell apart share a class: the plain
    integer widths; everything else is its own class."""
    t = str(t).upper()
    if t in INT_LANE:
        return "INT64LANE"
    if t.endswith("[]"):
        return hash_class(t[:-2]) + "[]"
    return t


def summarize(rel):
    """Column names, hash classes, row count and a digest of the sorted
    normalized rows of a DuckDB relation."""
    cols = list(rel.columns)
    classes = [hash_class(t) for t in rel.types]
    rows = sorted(tuple(norm(c) for c in r) for r in rel.fetchall())
    digest = hashlib.sha256(repr(rows).encode()).hexdigest()
    return {"cols": cols, "classes": classes, "nrows": len(rows), "digest": digest}


def reordered(rel, cols):
    """`rel` with its columns in the order `cols` (names must match)."""
    return rel.project(", ".join('"%s"' % c.replace('"', '""') for c in cols))


def compare(con, want, files):
    """None when the parquet files match the summarized oracle result,
    else a one-line reason."""
    got = con.sql("SELECT * FROM read_parquet(%r)" % files)
    if sorted(got.columns) != sorted(want["cols"]):
        return "columns %s vs oracle %s" % (sorted(got.columns), sorted(want["cols"]))
    s = summarize(reordered(got, want["cols"]))
    if s["classes"] != want["classes"]:
        return "types %s vs oracle %s" % (s["classes"], want["classes"])
    if s["nrows"] != want["nrows"]:
        return "rows %d vs oracle %d" % (s["nrows"], want["nrows"])
    if s["digest"] != want["digest"]:
        return "values differ from the oracle"
    return None


def connect(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, sf_dir, t))
    return con


def cache_key(sf_name, sql):
    return hashlib.sha256((sf_name + "\0" + sql).encode()).hexdigest()


class OracleCache:
    """Committed entries first, then this checkout's local cache; misses
    are computed in DuckDB and stored locally."""

    def __init__(self, con, sf_name, local_path):
        self.con, self.sf_name, self.local_path = con, sf_name, local_path
        self.committed = _load(COMMITTED)
        self.local = _load(local_path)

    def get(self, name, sql):
        key = cache_key(self.sf_name, sql)
        hit = self.committed.get(key) or self.local.get(key)
        if hit is None:
            hit = dict(summarize(self.con.sql(sql)), name=name, sf=self.sf_name, sql=sql)
            self.local[key] = hit
            os.makedirs(os.path.dirname(self.local_path), exist_ok=True)
            with open(self.local_path, "w") as f:
                json.dump(self.local, f)
        return hit


def _load(path):
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return {}


# Rows-only sketch queries: checked against the exact DuckDB answer within
# the error each sketch documents.
def check_sketch(con, name, files):
    got = con.sql("SELECT * FROM read_parquet(%r)" % files)
    if name == "q_hll_distinct":
        # HLL with 2^12 registers: standard error 1.04/64 = 1.6 %; allow 4x
        exact = dict(con.sql(
            "SELECT source, count(DISTINCT text) FROM documents GROUP BY source "
            "UNION ALL SELECT '~all~', count(DISTINCT text) FROM documents").fetchall())
        n = dict(con.sql(
            "SELECT source, count(*) FROM documents GROUP BY source "
            "UNION ALL SELECT '~all~', count(*) FROM documents").fetchall())
        rows = got.project("source, est_distinct, n_docs").fetchall()
        if sorted(r[0] for r in rows) != sorted(exact):
            return "sources differ"
        for src, est, nd in rows:
            if nd != n[src] or abs(est - exact[src]) > 0.065 * exact[src] + 1:
                return "%s: estimate %s vs exact %s" % (src, est, exact[src])
        return None
    if name == "q_approx_distinct":
        # approx_count_distinct(rsd = 0.05); allow 3 standard errors
        exact = {r[0]: r[1:] for r in con.sql(
            "SELECT event_type, count(DISTINCT user_id), count(*) FROM events "
            "GROUP BY event_type").fetchall()}
        rows = got.project("event_type, approx_users, n").fetchall()
        if sorted(r[0] for r in rows) != sorted(exact):
            return "event types differ"
        for et, est, nn in rows:
            users, total = exact[et]
            if nn != total or abs(est - users) > 0.15 * users + 1:
                return "%s: estimate %s vs exact %s" % (et, est, users)
        return None
    if name == "q_freq_items":
        # freqItems(support 0.05) may add false positives, never drop a
        # word above the support
        found = set(got.fetchall()[0][0])
        must = {r[0] for r in con.sql(
            "WITH w AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) "
            "AS word FROM documents) SELECT word FROM w GROUP BY word "
            "HAVING count(*) > 0.05 * (SELECT count(*) FROM w)").fetchall()}
        missing = must - found
        return "missing frequent words %s" % sorted(missing) if missing else None
    return "no check for %s" % name


SKETCHES = {"q_hll_distinct", "q_approx_distinct", "q_freq_items"}


def check_registry(sf_dir, oracle_sql, outputs, local_cache):
    """Compare every dumped result dir against its oracle; returns the
    list of failing (dir, reason)."""
    con = connect(sf_dir)
    cache = OracleCache(con, os.path.basename(os.path.normpath(sf_dir)), local_cache)
    bad = []
    for out in outputs:
        name = os.path.basename(out)
        files = sorted(glob.glob(os.path.join(out, "*.parquet")))
        if not files:
            bad.append((out, "no output"))
            continue
        if name in SKETCHES:
            why = check_sketch(con, name, files)
        elif name in oracle_sql:
            why = compare(con, cache.get(name, oracle_sql[name]), files)
        else:
            why = "no oracle"
        if why:
            bad.append((out, why))
    return bad


def rebuild(sf_dir, local_path):
    """Recompute every cached entry (committed and this checkout's local
    cache) from its stored SQL, into the committed cache file."""
    con = connect(sf_dir)
    entries = dict(_load(COMMITTED), **_load(local_path))
    fresh = {}
    for key, e in sorted(entries.items(), key=lambda kv: kv[1]["name"]):
        fresh[cache_key(e["sf"], e["sql"])] = dict(
            summarize(con.sql(e["sql"])), name=e["name"], sf=e["sf"], sql=e["sql"])
    with open(COMMITTED, "w") as f:
        json.dump(fresh, f, indent=0, sort_keys=True)
    print("recomputed %d oracle results" % len(fresh))


if __name__ == "__main__":
    if sys.argv[1:] != ["--rebuild"]:
        sys.exit("usage: python3 perfbench/oracle.py --rebuild")
    rebuild(os.path.join(HERE, "data", "sf0.01"), LOCAL_CACHE)
