"""Output checks of the graft benchmark, run after the timed region.

* registry keys: each key's output (written by the harness, untimed, right
  after the key's round-0 call) against DuckDB running the key's
  `SparkEntry.oracleSql` over the same generated parquet, normalised as the
  repo's `scripts/check.py` does: columns sorted by name, row order
  significant, floats compared bit for bit. A key without oracle SQL must
  return rows.
* pipeline: the store's rows and the three dashboard views against a DuckDB
  recomputation of the whole flow from the raw batches (the `q74Sql` shape:
  adapters, dedup, enrich-once skip, clean, lexicon sentiment, moderation).

Each function returns {name: reason} for every wrong output.
"""
import glob
import json

import duckdb
import numpy as np
import pandas as pd

# the pipeline steps whose work each checked output reflects: the store is
# written by ingest (batch 1) and incr (batch 2); the views read it
PIPELINE_STEPS = {'store_rows': ('ingest', 'incr'), 'sentiment_share': ('views',),
                  'daily_counts': ('views',), 'toxicity_share': ('views',)}

TABLES = ['region', 'nation', 'customer', 'supplier', 'part', 'orders', 'lineitem',
          'events', 'documents', 'embeddings']


def _spark(path):
    files = sorted(glob.glob(f'{path}/*.parquet'))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def frames_equal(sdf, odf):
    """None when equal under scripts/check.py's normalisation, else why not."""
    odf = odf[sorted(odf.columns)]
    sdf = sdf[sorted(sdf.columns)]
    if list(odf.columns) != list(sdf.columns):
        return f'schema spark={list(sdf.columns)} oracle={list(odf.columns)}'
    if len(odf) != len(sdf):
        return f'rowcount spark={len(sdf)} oracle={len(odf)}'
    for c in odf.columns:
        a, b = sdf[c], odf[c]
        try:
            if str(a.dtype).startswith('datetime') or str(b.dtype).startswith('datetime'):
                a = pd.to_datetime(a).astype('datetime64[ns]')
                b = pd.to_datetime(b).astype('datetime64[ns]')
            if str(a.dtype) == 'float64' and str(b.dtype) == 'float64':
                eq = (a.values.view('int64') == b.values.view('int64')) | \
                     (pd.isna(a).values & pd.isna(b).values)
            else:
                eq = (a.values == b.values) | (pd.isna(a).values & pd.isna(b).values)
            if not np.asarray(eq).all():
                i = int((~np.asarray(eq)).argmax())
                return f'value col={c} row={i} spark={a.iloc[i]!r} oracle={b.iloc[i]!r}'
        except Exception as e:  # noqa: BLE001 - any compare error is a wrong output
            return f'compare error col={c}: {e}'
    return None


def registry(out, data, keys):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    with open(f'{out}/oracle_sql.json') as fh:
        oracle = json.load(fh)
    bad = {}
    for k in keys:
        sdf = _spark(f'{out}/{k}')
        if sdf is None:
            bad[k] = 'no output'
        elif k in oracle:
            try:
                why = frames_equal(sdf, con.sql(oracle[k]).df())
            except Exception as e:  # noqa: BLE001
                why = f'oracle error: {e}'
            if why:
                bad[k] = why
        elif len(sdf) == 0:
            bad[k] = 'no rows (key has no oracle SQL)'
    return bad


def _html_to_text(c):
    s = f"regexp_replace({c}, '<[^>]+>', '', 'g')"
    for ent, lit in [('&gt;', '>'), ('&lt;', '<'), ('&quot;', '"'), ('&#039;', "''"),
                     ('&amp;', '&')]:
        s = f"replace({s}, '{ent}', '{lit}')"
    s = f"regexp_replace({s}, '>>\\d+', '', 'g')"
    return f"regexp_replace({s}, '^>+', '')"


def pipeline(out, data):
    with open(f'{out}/views/terms.json') as fh:
        terms = json.load(fh)
    lex = ', '.join(f"('{w}', {int(v)})" for w, v in terms['lexicon'].items())
    flagged = '|'.join(terms['flagged'])
    con = duckdb.connect()

    def unified(b):
        d = f'{data}/batch{b}'
        return f"""SELECT DISTINCT * FROM (
          SELECT 'reddit' AS platform, CAST(comment_id AS VARCHAR) AS comment_id, body,
            make_timestamp(CAST(created_utc AS BIGINT) * 1000000) AS created_ts
            FROM '{d}/reddit/*.parquet'
          UNION ALL
          SELECT '4chan', post_number, {_html_to_text('comment')},
            strptime(regexp_replace(timestamp_raw, '\\(\\w+\\)', ' '), '%m/%d/%y %H:%M:%S')
            FROM '{d}/chan/*.parquet'
          UNION ALL
          SELECT 'youtube', comment_id, comment_text,
            strptime(comment_time, '%Y-%m-%dT%H:%M:%SZ') FROM '{d}/youtube/*.parquet')"""
    con.sql(f'CREATE TABLE b1 AS {unified(1)}')
    con.sql(f'CREATE TABLE b2 AS SELECT * FROM ({unified(2)}) '
            f'WHERE comment_id NOT IN (SELECT comment_id FROM b1)')
    con.sql(f"""CREATE TABLE st AS
      WITH kept AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2),
      cl AS (SELECT *, lower(regexp_replace(regexp_replace(body, 'https?://\\S+', '', 'g'),
                '[^a-zA-Z0-9\\s]', '', 'g')) AS cb FROM kept),
      lex(word, tenths) AS (VALUES {lex}),
      tok AS (SELECT comment_id, unnest(regexp_split_to_array(lower(cb), '\\s+')) AS word FROM cl),
      sc AS (SELECT comment_id, sum(tenths) / 10.0 AS sv FROM tok JOIN lex USING (word) GROUP BY 1),
      e AS (SELECT cl.*, coalesce(sv, 0.0) AS s,
              CAST(len(regexp_extract_all(lower(cb), '\\b({flagged})\\b')) AS DOUBLE) AS hits
            FROM cl LEFT JOIN sc USING (comment_id))
      SELECT platform, comment_id, created_ts,
        CASE WHEN s / sqrt(s * s + 15.0) >= 0.05 THEN 'positive'
             WHEN s / sqrt(s * s + 15.0) <= -0.05 THEN 'negative' ELSE 'neutral' END AS sentiment,
        s / sqrt(s * s + 15.0) AS score, hits / (hits + 1.0) > 0.9 AS is_hate_speech
      FROM e""")
    bad = {}

    def compare(name, sdf, odf, keys, exact, approx):
        if sdf is None:
            bad[name] = 'no output'
            return
        m = sdf.merge(odf, on=keys, how='outer', suffixes=('_s', '_o'), indicator=True)
        if len(sdf) != len(odf) or (m['_merge'] != 'both').any():
            bad[name] = f'rows spark={len(sdf)} oracle={len(odf)} unmatched={int((m["_merge"] != "both").sum())}'
            return
        for c in exact:
            if (m[f'{c}_s'].values != m[f'{c}_o'].values).any():
                bad[name] = f'{c} differs'
                return
        for c, tol in approx:
            if (np.abs(m[f'{c}_s'].astype(float) - m[f'{c}_o'].astype(float)) > tol).any():
                bad[name] = f'{c} differs beyond {tol}'
                return

    v = f'{out}/views'
    rows = _spark(f'{v}/store_rows')
    compare('store_rows', rows,
            con.sql('SELECT platform, comment_id, sentiment, score AS sentiment_score, '
                    'is_hate_speech, created_ts FROM st').df(),
            ['platform', 'comment_id'], ['sentiment', 'is_hate_speech'],
            [('sentiment_score', 1.01e-4)])
    if rows is not None and 'store_rows' not in bad:
        ts = pd.to_datetime(rows['created_ts']).astype('datetime64[ns]').values
        want = con.sql('SELECT platform, comment_id, created_ts FROM st').df()
        got = rows[['platform', 'comment_id']].assign(created_ts=ts).merge(
            want.assign(created_ts=pd.to_datetime(want['created_ts']).astype('datetime64[ns]')),
            on=['platform', 'comment_id'], suffixes=('_s', '_o'))
        if (got['created_ts_s'] != got['created_ts_o']).any():
            bad['store_rows'] = 'created_ts differs'
    compare('sentiment_share', _spark(f'{v}/sentiment_share'),
            con.sql('SELECT platform, sentiment, count(*) AS cnt, '
                    'count(*) * 100.0 / sum(count(*)) OVER (PARTITION BY platform) AS pct '
                    'FROM st GROUP BY 1, 2').df(),
            ['platform', 'sentiment'], ['cnt'], [('pct', 0.0051)])
    daily = _spark(f'{v}/daily_counts')
    if daily is not None:
        daily['bucket_start'] = pd.to_datetime(daily['bucket_start']).astype('datetime64[ns]')
    odaily = con.sql("SELECT date_trunc('day', created_ts) AS bucket_start, count(*) AS cnt "
                     'FROM st GROUP BY 1').df()
    odaily['bucket_start'] = pd.to_datetime(odaily['bucket_start']).astype('datetime64[ns]')
    compare('daily_counts', daily, odaily, ['bucket_start'], ['cnt'], [])
    compare('toxicity_share', _spark(f'{v}/toxicity_share'),
            con.sql('SELECT is_hate_speech, count(*) AS cnt, '
                    'count(*) * 100.0 / sum(count(*)) OVER () AS pct FROM st GROUP BY 1').df(),
            ['is_hate_speech'], ['cnt'], [('pct', 0.000051)])
    if rows is not None and not rows['is_hate_speech'].any():
        bad['store_rows'] = 'no comment flagged by moderation: inputs do not exercise it'
    return bad
