"""Output checks for the pipeline and stream workloads, computed in DuckDB
from the inputs, apart from the program.

Pipeline A and B expectations are written from the reference semantics
(README output schemas, SURVEY section 2), including the engine's
documented deviations: one pivot with explicit content types and zero
fill, and TopKeyword's `keyword ASC NULLS LAST` tie-break. Keyword
categories come from the generator's labels, not from the classifier.
"""
import glob
import os

import duckdb

from oracle import compare, summarize

# reference AppName -> content type mapping (ETL_customer_interaction.py)
APP_TYPES = {
    "Truyen Hinh": ["CHANNEL", "DSHD", "KPLUS", "KPlus"],
    "Phim Truyen": ["VOD", "FIMS_RES", "BHD_RES", "VOD_RES", "FIMS", "BHD", "DANET"],
    "Giai Tri": ["RELAX"],
    "Thieu Nhi": ["CHILD"],
    "The Thao": ["SPORT"],
}
# pivot / taste order, and the Most Watched priority order
TYPES = ["Giai Tri", "Phim Truyen", "The Thao", "Thieu Nhi", "Truyen Hinh"]
PRIORITY = ["Truyen Hinh", "Phim Truyen", "Giai Tri", "Thieu Nhi", "The Thao"]


def _total(t):
    return '"Total_%s"' % t.replace(" ", "_")


def profile_sql(json_glob):
    type_case = "CASE " + " ".join(
        "WHEN AppName IN (%s) THEN '%s'" % (", ".join("'%s'" % a for a in apps), t)
        for t, apps in APP_TYPES.items()) + " ELSE 'Error' END"
    daily = ", ".join(
        "coalesce(sum(TotalDuration) FILTER (WHERE Type = '%s'), 0) AS \"%s\"" % (t, t)
        for t in TYPES)
    totals = ", ".join("CAST(sum(\"%s\") AS BIGINT) AS %s" % (t, _total(t)) for t in TYPES)
    best = "greatest(%s)" % ", ".join(_total(t) for t in PRIORITY)
    most = "CASE " + " ".join(
        "WHEN %s = %s THEN '%s'" % (best, _total(t), t) for t in PRIORITY) + " ELSE 'Error' END"
    taste = "concat_ws('-', %s)" % ", ".join(
        "CASE WHEN %s <> 0 THEN '%s' END" % (_total(t), t) for t in TYPES)
    return f"""
WITH raw AS (
  SELECT _source.Contract AS Contract, _source.TotalDuration AS TotalDuration,
         _source.AppName AS AppName,
         CAST(strptime(regexp_extract(filename, '(\\d{{8}})[^/]*$', 1), '%Y%m%d') AS DATE) AS log_date
  FROM read_json('{json_glob}', format = 'newline_delimited', filename = true,
    columns = {{'_index': 'VARCHAR', '_type': 'VARCHAR', '_id': 'VARCHAR', '_score': 'BIGINT',
               '_source': 'STRUCT(Contract VARCHAR, Mac VARCHAR, TotalDuration BIGINT, AppName VARCHAR)'}})
), typed AS (
  SELECT Contract, {type_case} AS Type, TotalDuration, log_date FROM raw
  WHERE Contract <> '0'
), daily AS (
  SELECT Contract, log_date AS Date, {daily}
  FROM typed WHERE Type <> 'Error' GROUP BY Contract, log_date
), prof AS (
  SELECT Contract, {totals}, count(DISTINCT Date) AS Active FROM daily GROUP BY Contract
)
SELECT *, {most} AS "Most Watched", {taste} AS Taste,
  CASE WHEN Active > 20 THEN 'High' WHEN Active >= 10 THEN 'Medium' ELSE 'Low' END
    AS Level_Activeness
FROM prof"""


def trend_sql(search_glob, labels_parquet):
    return f"""
WITH logs AS (
  SELECT user_id, keyword,
         substr(regexp_extract(filename, '(\\d{{8}})/[^/]*$', 1), 5, 2) AS m
  FROM read_parquet('{search_glob}', filename = true)
), counts AS (
  SELECT m, user_id, keyword, count(*) AS c FROM logs GROUP BY m, user_id, keyword
), top AS (
  SELECT m, user_id, keyword AS most_search FROM (
    SELECT *, row_number() OVER (PARTITION BY m, user_id
                                 ORDER BY c DESC, keyword ASC NULLS LAST) AS rn
    FROM counts) WHERE rn = 1
), cat AS (
  SELECT t.*, coalesce(l.category, 'Other') AS category
  FROM top t LEFT JOIN read_parquet('{labels_parquet}') l ON l.keyword = t.most_search
)
SELECT j.user_id, j.most_search AS most_search_T6, j.category AS category_T6,
       k.most_search AS most_search_T7, k.category AS category_T7,
       CASE WHEN j.category = k.category THEN 'Unchanged' ELSE 'Changed' END AS Trending_Type,
       CASE WHEN j.category <> k.category THEN concat_ws('-', j.category, k.category)
            ELSE 'Unchanged' END AS Category_Change
FROM cat j JOIN cat k ON j.user_id = k.user_id
WHERE j.m = '06' AND k.m = '07'"""


def check_outputs(sql, outputs):
    """Compare each output dir to the expected relation; returns the
    list of failing (dir, reason)."""
    con = duckdb.connect()
    want = summarize(con.sql(sql))
    bad = []
    for out in outputs:
        files = sorted(glob.glob(os.path.join(out, "*.parquet")))
        why = compare(con, want, files) if files else "no output"
        if why:
            bad.append((out, why))
    return bad, want["nrows"]


def check_stream(oracle_sql, files, final_dir, replay_dir):
    """The pair table after the last batch, and again after replaying it,
    against the q_dedup_incremental oracle's LSH pair CTEs over the
    ingested documents, restricted to pairs that touch an ingested batch."""
    tail = "SELECT doc_a, doc_b, nbands, jaccard FROM vpairs"
    cut = oracle_sql.rfind(tail)
    if cut < 0:
        raise ValueError("q_dedup_incremental oracle has no vpairs select")
    batch_ids = "SELECT doc_id FROM read_parquet(%r)" % [f for f in files if "batch_" in f]
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT doc_id, text FROM read_parquet(%r)" % files)
    want = summarize(con.sql(oracle_sql[:cut] + tail + " WHERE doc_a IN (%s) OR doc_b IN (%s)"
                             % (batch_ids, batch_ids)))
    bad = []
    for out, label in ((final_dir, "final"), (replay_dir, "replay")):
        got = sorted(glob.glob(os.path.join(out, "*.parquet")))
        why = compare(con, want, got) if got else "no output"
        if why:
            bad.append((label, why))
    return bad, want["nrows"]
