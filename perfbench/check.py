"""Independent checks of each workload's outputs, in DuckDB.

Nothing here goes through the library: the scoreboard history is
recomputed from the raw CSV lines, the RAG serves from the hybrid-RRF
definition over exactly the committed documents, and the catalog pass of
the traced scoreboard run from each query's oracle SQL. Each checker returns
{"correct", "attempted", "failed", "detail"}; an operation whose output
does not match counts as failed.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

import gen


def frames_equal(got, want, keys=None):
    """Exact comparison the way tools/oracle_check.py compares: same column
    set, same row count, values equal after sorting, NaN equal to NaN.
    Returns None when equal, else a one-line reason."""
    if got is None:
        return "no output"
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return "columns %s != %s" % (gc, wc)
    if len(got) != len(want):
        return "rows %d != %d" % (len(got), len(want))
    order = keys or gc
    g = got[gc].sort_values(by=order).reset_index(drop=True)
    w = want[wc].sort_values(by=order).reset_index(drop=True)
    for c in gc:
        gk, wk = g[c].dtype.kind, w[c].dtype.kind
        if gk != wk and {gk, wk} <= {"i", "u", "f"} and "f" in {gk, wk}:
            return "column %s dtype %s != %s" % (c, g[c].dtype, w[c].dtype)
        if g[c].dtype != w[c].dtype:
            t = np.result_type(g[c].dtype, w[c].dtype)
            gv, wv = g[c].astype(t), w[c].astype(t)
        else:
            gv, wv = g[c], w[c]
        neq = ~((gv == wv) | (gv.isna() & wv.isna()))
        if neq.any():
            i = neq.idxmax()
            return "column %s row %d: %r != %r" % (c, i, gv[i], wv[i])
    return None


def read_parquet(con, path):
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files:
        return None
    return con.execute("SELECT * FROM read_parquet(%r)" % files).fetchdf()


# ------------------------------------------------------------ scoreboard

def _lines(pattern):
    rows = []
    for f in sorted(glob.glob(pattern)):
        b = int(os.path.basename(f).split("_")[1].split(".")[0])
        with open(f) as fh:
            rows += [(b, ln.rstrip("\n")) for ln in fh if ln.strip()]
    return pd.DataFrame(rows, columns=["batch", "line"])


# Java semantics throughout: tick / 128 is integer division of non-negative
# ticks, blank means Java trim() leaves nothing, damage per round divides
# doubles (x/0 is ±Infinity, 0/0 NaN).
HISTORY_SQL = """
WITH k AS (SELECT batch, string_split(line, ',') AS c FROM kill_lines),
d AS (SELECT batch, string_split(line, ',') AS c FROM damage_lines),
ev AS (
  SELECT batch, c[4] AS player, c[5] AS sid, 'kill' AS et,
         CAST(c[2] AS BIGINT) // 128 AS sec, 0::BIGINT AS amount, CAST(c[3] AS BIGINT) AS rnd
    FROM k WHERE c[4] <> ''
  UNION ALL
  SELECT batch, c[8], c[9], 'death', CAST(c[2] AS BIGINT) // 128, 0, CAST(c[3] AS BIGINT)
    FROM k WHERE c[8] <> ''
  UNION ALL
  SELECT batch, c[12], c[13], 'assist', CAST(c[2] AS BIGINT) // 128, 0, CAST(c[3] AS BIGINT)
    FROM k WHERE c[12] <> '' AND c[12] <> '0'
  UNION ALL
  SELECT batch, '', c[10], 'damage', CAST(c[2] AS BIGINT) // 128,
         CAST(c[6] AS BIGINT) - CAST(c[7] AS BIGINT), CAST(c[3] AS BIGINT)
    FROM d WHERE coalesce(c[10], '') <> ''),
per_batch AS (
  SELECT batch, sid,
    max(CASE WHEN trim(player) <> '' THEN player END) AS nm,
    count(*) FILTER (WHERE et = 'kill') AS k,
    count(*) FILTER (WHERE et = 'death') AS dth,
    count(*) FILTER (WHERE et = 'assist') AS a,
    coalesce(sum(amount) FILTER (WHERE et = 'damage'), 0) AS dmg,
    greatest(max(sec), 0) AS sec, greatest(max(rnd), 0) AS rnd
  FROM ev GROUP BY 1, 2),
cum AS (
  SELECT batch, sid, sec, rnd,
    coalesce(max(nm) OVER w, '') AS nm,
    sum(k) OVER w AS kills, sum(dth) OVER w AS deaths,
    sum(a) OVER w AS assists, sum(dmg) OVER w AS damage
  FROM per_batch
  WINDOW w AS (PARTITION BY sid ORDER BY batch ROWS UNBOUNDED PRECEDING)),
dim AS (
  SELECT string_split(line, ',')[1] AS name, string_split(line, ',')[2] AS sid
  FROM dim_lines)
SELECT
  CASE WHEN trim(cum.nm) <> '' THEN cum.nm ELSE coalesce(dim.name, cum.nm) END AS playerName,
  cum.sid AS steamId, sec AS second,
  CAST(kills AS BIGINT) AS kills, CAST(deaths AS BIGINT) AS deaths,
  CAST(assists AS BIGINT) AS assists, CAST(damage AS BIGINT) AS damage,
  CASE WHEN deaths = 0 THEN CAST(kills AS DOUBLE)
       ELSE CAST(kills AS DOUBLE) / deaths END AS kdRatio,
  CASE WHEN rnd <> 0 THEN CAST(damage AS DOUBLE) / rnd
       WHEN damage > 0 THEN 'Infinity'::DOUBLE
       WHEN damage < 0 THEN '-Infinity'::DOUBLE
       ELSE 'NaN'::DOUBLE END AS damagePerRound,
  CAST(batch AS BIGINT) AS batchId
FROM cum LEFT JOIN dim ON dim.sid = cum.sid
"""


def dashboards_sql(series):
    ids = ", ".join("'%s'" % s for s in series)
    labels = ["p%02d" % i for i in range(len(series))]
    players = " UNION ALL ".join("SELECT '%s' AS steamId, '%s' AS label" % (s, l)
                                 for s, l in zip(series, labels))
    # pivotMatrix fills empty and NaN cells with 0, then clamps at 0
    cells = ", ".join(
        "greatest(CASE WHEN isnan(max(v) FILTER (WHERE label = '%s')) THEN 0 "
        "ELSE coalesce(max(v) FILTER (WHERE label = '%s'), 0) END, 0) AS %s"
        % (l, l, l) for l in labels)
    latest = """
      SELECT * EXCLUDE (rn) FROM (
        SELECT *, row_number() OVER (PARTITION BY steamId ORDER BY batchId DESC) AS rn
        FROM history) WHERE rn = 1"""
    series_q = """
      SELECT steamId, batchId, second, kills, deaths, assists, damage, kdRatio
      FROM history WHERE steamId IN (%s)""" % ids
    matrix = """
      WITH top AS (SELECT * FROM history WHERE steamId IN (%s)),
      players AS (%s),
      grid AS (SELECT s.second, p.steamId, p.label
               FROM (SELECT DISTINCT second FROM top) s CROSS JOIN players p),
      joined AS (
        SELECT g.second, g.steamId, g.label, t.damagePerRound AS dpr
        FROM grid g LEFT JOIN top t ON t.second = g.second AND t.steamId = g.steamId),
      filled AS (
        SELECT second, label, coalesce(last_value(dpr IGNORE NULLS) OVER (
          PARTITION BY steamId ORDER BY second
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS v
        FROM joined)
      SELECT second, %s FROM filled GROUP BY second""" % (ids, players, cells)
    return {"latest": latest, "series": series_q, "matrix": matrix}


def check_stream(in_dir, res):
    con = duckdb.connect()
    main = os.path.join(in_dir, "main")
    con.register("kill_lines", _lines(os.path.join(main, "kills", "*.csv")))
    con.register("damage_lines", _lines(os.path.join(main, "damages", "*.csv")))
    dim = pd.DataFrame({"line": [ln.rstrip("\n") for ln in
                                 open(os.path.join(in_dir, "players.csv")) if ln.strip()]})
    con.register("dim_lines", dim)
    want = con.execute(HISTORY_SQL).fetchdf()
    series = [ln.strip() for ln in open(os.path.join(in_dir, "series.txt")) if ln.strip()]
    batches = int(want["batchId"].max()) + 1
    detail = {"distinct_steamIds": int(want.steamId.nunique())}
    con.register("history", want)
    expected = {n: con.execute(sql).fetchdf() for n, sql in dashboards_sql(series).items()}
    # every round: each micro-batch's rows of the history table, then each
    # dashboard recomputed over the recomputed history
    bad = 0
    for r, rdir in enumerate(res["rounds"]):
        got = read_parquet(con, os.path.join(rdir, "history"))
        for b in range(batches):
            rows = None if got is None else got[got.batchId == b]
            why = frames_equal(rows, want[want.batchId == b], keys=["steamId"])
            if why:
                bad += 1
                detail.setdefault("batches", []).append("round %d batch %d: %s" % (r, b, why))
        if got is not None and got.batchId.max() >= batches:
            bad += 1
            detail["extra_batches_round_%d" % r] = int(got.batchId.max())
        for name, want_dash in expected.items():
            why = frames_equal(read_parquet(con, os.path.join(rdir, "dashboards", name)),
                               want_dash)
            if why:
                bad += 1
                detail["round_%d_dashboard_%s" % (r, name)] = why
    # the state store holds one row per distinct player
    rows = res["metrics"]["core.stats.state_rows"]["value"]
    state_ok = rows == detail["distinct_steamIds"]
    if not state_ok:
        detail["state_rows"] = rows
    attempted = len(res["rounds"]) * (batches + 3)  # every batch and dashboard
    if "catalog" in res:  # the traced run's catalog pass
        cat = check_catalog(res["catalog"])
        attempted += cat["attempted"]
        bad += cat["failed"]
        detail["catalog"] = cat["detail"]
    return {"correct": bad == 0 and state_ok, "attempted": attempted, "failed": bad,
            "detail": detail}


# ------------------------------------------------------------------- RAG

def hybrid_rrf_sql(corpus_pred, queries):
    """Hybrid BM25 + cosine retrieval fused by reciprocal rank, over the
    documents `corpus_pred` admits, for the query documents below
    `queries` — the definition `CatalogShared.hybridRrfOracleFor` states."""
    p_doc = corpus_pred.replace("__id__", "doc_id")
    p_vec = corpus_pred.replace("__id__", "vec_id")
    return f"""
      WITH toks AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS t
        FROM documents WHERE text IS NOT NULL AND ({p_doc})),
      dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks GROUP BY 1),
      stats AS (SELECT count(*)::BIGINT AS n, CAST(sum(dl) AS BIGINT) AS tot FROM dl),
      alldf AS (
        SELECT t, count(*)::BIGINT AS df
        FROM (SELECT DISTINCT doc_id, t FROM toks) GROUP BY 1),
      qterms AS (
        SELECT q_id, t FROM (
          SELECT q.doc_id AS q_id, q.t,
            row_number() OVER (PARTITION BY q.doc_id
              ORDER BY q.qtf * (n // df) DESC, q.t) AS rn
          FROM (SELECT doc_id, t, count(*)::BIGINT AS qtf FROM toks
                WHERE doc_id < {queries} GROUP BY 1, 2) q
          JOIN alldf USING (t) CROSS JOIN stats) WHERE rn <= 4),
      tq AS (SELECT DISTINCT t FROM qterms),
      tf AS (
        SELECT doc_id, t, count(*)::BIGINT AS tfv
        FROM toks JOIN tq USING (t) GROUP BY 1, 2),
      lexs AS (
        SELECT q_id, n_id,
          list_sum(list_transform(
            list(struct_pack(t := t, s := s) ORDER BY t), x -> x.s)) AS score
        FROM (
          SELECT qt.q_id, tf.doc_id AS n_id, tf.t,
            (n // df)::DOUBLE * (tfv::DOUBLE * 2.25) /
              (tfv::DOUBLE + 1.25 * (0.25 + 0.75 *
                (dl::DOUBLE / (tot::DOUBLE / n::DOUBLE)))) AS s
          FROM tf JOIN qterms qt USING (t) JOIN alldf USING (t)
          JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats
          WHERE tf.doc_id <> qt.q_id)
        GROUP BY 1, 2),
      lrank AS (
        SELECT q_id, n_id, rank_l FROM (
          SELECT q_id, n_id,
            row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank_l
          FROM lexs) WHERE rank_l <= 10),
      qv AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qvv FROM embeddings
             WHERE vec_id < {queries}),
      cv AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv FROM embeddings
             WHERE ({p_vec})),
      vrank AS (
        SELECT q_id, n_id, rank_v FROM (
          SELECT q_id, n_id,
            row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank_v
          FROM (
            SELECT q_id, n_id,
              list_sum(list_transform(range(1, least(len(qvv), len(nv)) + 1), i -> qvv[i] * nv[i])) /
                (sqrt(list_sum(list_transform(range(1, len(qvv) + 1), i -> qvv[i] * qvv[i]))) *
                 sqrt(list_sum(list_transform(range(1, len(nv) + 1), i -> nv[i] * nv[i])))) AS sim
            FROM qv CROSS JOIN cv WHERE n_id <> q_id)) WHERE rank_v <= 10),
      fused AS (
        SELECT coalesce(v.q_id, l.q_id) AS q_id, coalesce(v.n_id, l.n_id) AS n_id,
          coalesce(CAST(1 AS DOUBLE) / (60 + v.rank_v), CAST(0 AS DOUBLE)) +
          coalesce(CAST(1 AS DOUBLE) / (60 + l.rank_l), CAST(0 AS DOUBLE)) AS rrf,
          v.rank_v, l.rank_l
        FROM vrank v FULL OUTER JOIN lrank l
          ON v.q_id = l.q_id AND v.n_id = l.n_id)
      SELECT q_id, CAST(rn AS INT) AS rank, n_id, rrf,
        CAST(rank_v AS INT) AS rank_v, CAST(rank_l AS INT) AS rank_l
      FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, n_id) AS rn
            FROM fused)
      WHERE rn <= 5"""


def check_rag(in_dir, res):
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (t, os.path.join(in_dir, t + ".parquet")))
    q = int(res["queries"])
    slices = gen.RAG["slices"]
    want = {}  # committed slices → expected serve rows
    failed, attempted, detail = 0, 0, {}
    for rnd in res["serves"]:
        got = read_parquet(con, rnd["out"])
        for stage, k in rnd["stages"]:
            attempted += 1
            rows = got[got.stage == stage].drop(columns=["stage"]) if got is not None else None
            if k == 0:
                # before the first commit there is no generation to answer from
                why = None if rows is None or len(rows) == 0 else \
                    "stage %d served %d rows before any commit" % (stage, len(rows))
            else:
                if k not in want:
                    pred = "__id__ < %d OR __id__ %% %d < %d" % (q, slices, k)
                    want[k] = con.execute(hybrid_rrf_sql(pred, q)).fetchdf()
                why = "no output" if rows is None else frames_equal(
                    rows.reset_index(drop=True), want[k], keys=["q_id", "rank"])
            if why:
                failed += 1
                detail.setdefault("serves", []).append("stage %d: %s" % (stage, why))
    detail["serves_checked"] = attempted
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "detail": detail}


# --------------------------------------------------------------- catalog

def check_catalog(res):
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(res["in"], "*.parquet"))):
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (os.path.basename(f)[:-len(".parquet")], f))
    bad, detail = 0, {}
    for name, sql in res["oracle"].items():
        got = read_parquet(con, os.path.join(res["check"], name))
        if sql is None:
            why = "no oracle SQL"
        else:
            try:
                why = frames_equal(got, con.execute(sql).fetchdf())
            except duckdb.Error as e:  # a failing oracle fails this query only
                why = "oracle error %s" % e
        if why:
            bad += 1
            detail[name] = why
    detail["queries_checked"] = len(res["oracle"])
    return {"correct": bad == 0, "attempted": len(res["oracle"]), "failed": bad,
            "detail": detail}


CHECKERS = {"stream_scoreboard": check_stream, "rag_lifecycle": check_rag}
