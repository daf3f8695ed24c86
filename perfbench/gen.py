"""Seeded input generators for the graft benchmark.

Two families, both deterministic in the seed (same seed -> byte-identical
parquet, see `selfcheck.py`):

* `warehouse(out, sf, seed)`: the star-schema tables plus `events`,
  `documents` and `embeddings` that every registry key reads, with the row
  counts, key ranges, value domains and text vocabulary of the reference
  test data at the same scale factor.
* `social(out, n, seed)`: two raw comment batches in the three source shapes
  the pipeline ingests (reddit epoch seconds, 4chan HTML bodies with free-text
  timestamps, youtube ISO-Z text times). About 5% of each batch re-delivers an
  id already in the batch (identical record), and batch 2 re-delivers part of
  batch 1, so the incremental step has stored ids to skip.

Usage: python3 gen.py warehouse <out> <sf> <seed>
       python3 gen.py social <out> <n_comments> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_VOCAB = ['a', 'agg', 'batch', 'big', 'column', 'customer', 'data', 'fast',
             'filter', 'group', 'hash', 'join', 'key', 'line', 'merge', 'order',
             'part', 'query', 'row', 'scan', 'slow', 'small', 'sort', 'spark',
             'stream', 'table', 'the', 'value', 'vector', 'window']
REGIONS = ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST']
SEGMENTS = ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY']
ADJ = ['blue', 'cold', 'hot', 'large', 'new', 'old', 'red', 'small']
NOUN = ['anvil', 'bolt', 'gear', 'gizmo', 'plate', 'ring', 'rod', 'widget']
PTYPES = ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD']
PRIORITIES = ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']
EVENT_TYPES = ['click', 'error', 'purchase', 'signup', 'view']
LANGS = ['en', 'en', 'en', 'de', 'es', 'fr', 'zh']
DAY_US = 86400 * 10**6


def _write(table, path):
    # fixed writer settings: no wall-clock metadata, so equal inputs give
    # equal bytes
    pq.write_table(table, path, compression='snappy', write_statistics=True)


def _days(rng, n, start, span_days):
    base = np.datetime64(start, 'D').astype(np.int64)
    d = base + rng.integers(0, span_days + 1, n)
    return pa.array(d.astype('datetime64[D]').astype('datetime64[us]'))


def _cents(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def warehouse(out, sf, seed):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = max(int(150000 * sf), 10), max(int(10000 * sf), 5)
    n_part, n_ord = max(int(200000 * sf), 20), max(int(1500000 * sf), 100)
    n_line, n_ev = max(int(6000000 * sf), 400), max(int(1000000 * sf), 100)
    n_users = max(int(15000 * sf), 10)
    n_docs = 500 if sf <= 0.01 else int(50000 * sf)
    n_vecs = 500 if sf <= 0.01 else int(20000 * sf)

    _write(pa.table({'r_regionkey': pa.array(range(5), pa.int32()),
                     'r_name': REGIONS}), f'{out}/region.parquet')
    _write(pa.table({'n_nationkey': pa.array(range(25), pa.int32()),
                     'n_name': [f'NATION_{i}' for i in range(25)],
                     'n_regionkey': pa.array([i % 5 for i in range(25)], pa.int32())}),
           f'{out}/nation.parquet')
    _write(pa.table({
        'c_custkey': pa.array(np.arange(n_cust, dtype=np.int64)),
        'c_name': [f'Customer#{i:09d}' for i in range(n_cust)],
        'c_nationkey': pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        'c_acctbal': _cents(rng, -999.99, 9999.99, n_cust),
        'c_mktsegment': np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}),
        f'{out}/customer.parquet')
    _write(pa.table({
        's_suppkey': pa.array(np.arange(n_supp, dtype=np.int64)),
        's_name': [f'Supplier#{i:09d}' for i in range(n_supp)],
        's_nationkey': pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        's_acctbal': _cents(rng, -999.99, 9999.99, n_supp)}),
        f'{out}/supplier.parquet')
    pk = np.arange(n_part, dtype=np.int64)
    _write(pa.table({
        'p_partkey': pa.array(pk),
        'p_name': [f'{ADJ[a]} {NOUN[b]}' for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        'p_brand': [f'Brand#{b}' for b in rng.integers(1, 26, n_part)],
        'p_type': np.array(PTYPES)[rng.integers(0, 6, n_part)],
        'p_size': pa.array(rng.integers(1, 51, n_part), pa.int32()),
        'p_retailprice': np.round(900.0 + (pk % 1000) / 10.0, 1)}),
        f'{out}/part.parquet')
    _write(pa.table({
        'o_orderkey': pa.array(np.arange(n_ord, dtype=np.int64)),
        'o_custkey': pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        'o_orderstatus': np.array(['F', 'O', 'P'])[rng.integers(0, 3, n_ord)],
        'o_totalprice': _cents(rng, 1000, 500000, n_ord),
        'o_orderdate': _days(rng, n_ord, '1995-01-01', 2404),
        'o_orderpriority': np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}),
        f'{out}/orders.parquet')
    ok = np.sort(rng.integers(0, n_ord, n_line, dtype=np.int64))
    _write(pa.table({
        'l_orderkey': pa.array(ok),
        'l_partkey': pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        'l_suppkey': pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        'l_linenumber': pa.array(rng.integers(1, 8, n_line), pa.int32()),
        'l_quantity': rng.integers(1, 51, n_line).astype(np.float64),
        'l_extendedprice': _cents(rng, 900, 105000, n_line),
        'l_discount': rng.integers(0, 11, n_line) / 100.0,
        'l_tax': rng.integers(0, 9, n_line) / 100.0,
        'l_returnflag': np.array(['A', 'N', 'R'])[rng.integers(0, 3, n_line)],
        'l_linestatus': np.array(['F', 'O'])[rng.integers(0, 2, n_line)],
        'l_shipdate': _days(rng, n_line, '1995-01-02', 2498)}),
        f'{out}/lineitem.parquet')

    ts = np.sort(np.datetime64('2024-01-01', 'us').astype(np.int64)
                 + rng.integers(0, 30 * DAY_US, n_ev, dtype=np.int64))
    _write(pa.table({
        'event_id': pa.array(np.arange(n_ev, dtype=np.int64)),
        'ts': pa.array(ts.astype('datetime64[us]')),
        'user_id': pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        'event_type': np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        'value': np.round(rng.exponential(50.0, n_ev), 2),
        'props': ['{"k": %d}' % k for k in rng.integers(0, 100, n_ev)]}),
        f'{out}/events.parquet')

    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + ' dup')
        else:
            words = rng.choice(DOC_VOCAB, size=int(rng.integers(10, 101)))
            texts.append(' '.join(words))
    _write(pa.table({
        'doc_id': pa.array(np.arange(n_docs, dtype=np.int64)),
        'text': texts,
        'lang': np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        'source': [f'src{i % 20}' for i in range(n_docs)],
        'n_chars': pa.array([len(t) for t in texts], pa.int64())}),
        f'{out}/documents.parquet')

    m = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    _write(pa.table({
        'vec_id': pa.array(np.arange(n_vecs, dtype=np.int64)),
        'embedding': pa.FixedSizeListArray.from_arrays(
            pa.array(m.reshape(-1)), 64).cast(pa.list_(pa.float32())),
        'label': pa.array(rng.integers(0, 10, n_vecs), pa.int32())}),
        f'{out}/embeddings.parquet')


# ---------------------------------------------------------------- social

POS = ['good', 'great', 'love', 'win', 'fast', 'big', 'merge']
NEG = ['bad', 'hate', 'slow', 'error', 'small', 'crash', 'fail']
NEUTRAL = ['the', 'economy', 'jobs', 'rates', 'market', 'vote', 'policy',
           'inflation', 'budget', 'senate', 'housing', 'prices', 'today',
           'people', 'think', 'really', 'would', 'about', 'recession', 'news']
FLAGGED = ['error', 'slow', 'bad', 'crash', 'fail']


def _bodies(rng, n):
    """Comment text: mostly neutral words with some lexicon hits, a URL now
    and then, punctuation, and ~1% rants with 10+ flagged terms (the only
    rows the moderation threshold flags)."""
    out = []
    lens = rng.integers(6, 40, n)
    for i in range(n):
        k = int(lens[i])
        pool = rng.random(k)
        words = np.where(pool < 0.12, rng.choice(POS, k),
                         np.where(pool < 0.22, rng.choice(NEG, k),
                                  rng.choice(NEUTRAL, k))).tolist()
        if rng.random() < 0.01:
            words += list(rng.choice(FLAGGED, 12))
        if rng.random() < 0.15:
            words.insert(int(rng.integers(0, len(words))),
                         f'https://news.example.com/a/{int(rng.integers(0, 10**6))}?x=1')
        text = ' '.join(words)
        if rng.random() < 0.3:
            text = text.capitalize() + '!'
        out.append(text)
    return out


def _redeliver(rng, ids, frac=0.05):
    """Indices of one batch with ~frac of rows re-delivered (duplicated)."""
    extra = rng.choice(len(ids), size=int(len(ids) * frac), replace=False)
    idx = np.concatenate([np.arange(len(ids)), extra])
    return idx[rng.permutation(len(idx))]


def _batch(rng, n, id0, base_epoch):
    """One raw batch: n distinct comments split over the three sources, as
    column dicts; ids are numbered from id0 so batches can overlap."""
    per = [n // 3, n // 3, n - 2 * (n // 3)]
    ids = [id0 + np.arange(p, dtype=np.int64) for p in per]
    days = [rng.integers(0, 14, p) for p in per]
    secs = [rng.integers(0, 86400, p) for p in per]
    epoch = [base_epoch + d * 86400 + s for d, s in zip(days, secs)]

    r = {'subreddit': [f'r{int(x)}' for x in rng.integers(0, 8, per[0])],
         'post_id': [f't3_{int(x)}' for x in rng.integers(0, 500, per[0])],
         'body': _bodies(rng, per[0]),
         'score': rng.integers(-20, 500, per[0]).astype(np.int32),
         'created_utc': epoch[0].astype(np.int64),
         'comment_id': [f't1_{int(i):x}' for i in ids[0]]}
    ct = epoch[1].astype('datetime64[s]').astype(object)
    names = ['Mon', 'Tue', 'Wed', 'Thu', 'Fri', 'Sat', 'Sun']
    c = {'post_number': [str(400000000 + int(i)) for i in ids[1]],
         'comment': [f'<a href="#p{400000000 + int(i) - 1}" class="quotelink">'
                     f'&gt;&gt;{400000000 + int(i) - 1}</a><br>'
                     f'<span class="quote">&gt;{b}</span> &amp; &quot;ok&quot;'
                     for i, b in zip(ids[1], _bodies(rng, per[1]))],
         'timestamp_raw': [t.strftime('%m/%d/%y') + f'({names[t.weekday()]})'
                           + t.strftime('%H:%M:%S') for t in ct],
         'name': ['Anonymous'] * per[1],
         'image_filename': [None if rng.random() < 0.8 else f'{int(i)}.jpg'
                            for i in ids[1]]}
    yt = epoch[2].astype('datetime64[s]').astype(object)
    y = {'video_id': [f'v{int(x):05d}' for x in rng.integers(0, 60, per[2])],
         'video_title': ['recession outlook'] * per[2],
         'comment_id': [f'Ug{int(i):08x}' for i in ids[2]],
         'comment_time': [t.strftime('%Y-%m-%dT%H:%M:%SZ') for t in yt],
         'comment_text': _bodies(rng, per[2])}
    return r, c, y


def _take(cols, idx):
    return {k: (v[idx] if isinstance(v, np.ndarray) else [v[i] for i in idx])
            for k, v in cols.items()}


def _concat(a, b):
    return {k: (np.concatenate([a[k], b[k]]) if isinstance(a[k], np.ndarray)
                else a[k] + b[k]) for k in a}


def social(out, n, seed):
    """Batch 1: n comments. Batch 2: n // 3 comments, a quarter of them
    re-delivered from batch 1 (already in the store)."""
    rng = np.random.default_rng([seed, 2])
    base = 1704067200  # 2024-01-01T00:00:00Z
    b1 = _batch(rng, n, 0, base)
    n2 = n // 3
    fresh = _batch(rng, n2 - n2 // 4, n, base + 7 * 86400)
    for name, src1, src2 in zip(['reddit', 'chan', 'youtube'], b1, fresh):
        k1 = len(next(iter(src1.values())))
        old = rng.choice(k1, size=k1 * (n2 // 4) // max(n, 1), replace=False)
        batch2 = _concat(src2, _take(src1, old))
        for b, cols in ((1, src1), (2, batch2)):
            m = len(next(iter(cols.values())))
            cols = _take(cols, _redeliver(rng, range(m)))
            d = f'{out}/batch{b}/{name}'
            os.makedirs(d, exist_ok=True)
            _write(pa.table(cols), f'{d}/part-0.parquet')


if __name__ == '__main__':
    kind, out, size, seed = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
    if kind == 'warehouse':
        warehouse(out, float(size), seed)
    elif kind == 'social':
        social(out, int(size), seed)
    else:
        sys.exit(f'unknown generator {kind}')
