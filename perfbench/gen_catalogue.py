"""Seeded catalogue tables and their DuckDB oracle digests.

`generate(seed, sf, out_dir)` writes the ten parquet tables the catalogue
queries read (region, nation, customer, supplier, part, orders, lineitem,
events, documents, embeddings) with the schemas and value distributions of
the repository's test data, drawn from `numpy.random.default_rng(seed)`.

`oracle(out_dir, oracle_sql)` runs each query's oracle SQL in DuckDB over
those tables and returns {query: {"rows", "sha256"}}; the harness compares
the Spark result with it through the same canonical rendering
(`Catalogue.canonicalSha` in the Scala harness).
"""
import datetime
import decimal
import hashlib
import math
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ['a', 'agg', 'batch', 'big', 'column', 'customer', 'data', 'dup',
         'fast', 'filter', 'group', 'hash', 'join', 'key', 'line', 'merge',
         'order', 'part', 'query', 'row', 'scan', 'slow', 'small', 'sort',
         'spark', 'stream', 'table', 'the', 'value', 'vector', 'window']
SEGMENTS = ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY']
PRIORITIES = ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']
PTYPES = ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD']
ADJS = ['blue', 'cold', 'hot', 'large', 'new', 'old', 'red', 'small']
NOUNS = ['anvil', 'bolt', 'gear', 'gizmo', 'plate', 'ring', 'rod', 'widget']
EVTYPES = ['click', 'error', 'purchase', 'signup', 'view']
LANGS = ['de', 'en', 'es', 'fr', 'zh']
LANGP = [0.14, 0.42, 0.15, 0.145, 0.145]
REGIONS = ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST']
TABLES = ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings']
US_DAY = 86_400_000_000


def _ts(rng, n, day0, day1):
    return pa.array(rng.integers(day0 * US_DAY, day1 * US_DAY, n), pa.timestamp('us'))


def _pick(rng, values, n):
    return pa.array(np.array(values)[rng.integers(0, len(values), n)])


def generate(seed, sf, out, landmarks=True):
    """Write the tables for scale factor `sf`. With `landmarks`, nation 0
    has its share of suppliers, so the closeness query has landmarks;
    without, it has none (the zero-landmark fixture of the smoke check).
    """
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev, n_doc = int(1_500_000 * sf), int(1_000_000 * sf), int(50_000 * sf)
    n_emb, n_users = int(round(2000 * (10 * sf) ** 0.602)), int(15_000 * sf)
    tables = {}
    tables['region'] = pa.table({
        'r_regionkey': pa.array(range(5), pa.int32()), 'r_name': REGIONS})
    tables['nation'] = pa.table({
        'n_nationkey': pa.array(range(25), pa.int32()),
        'n_name': [f'NATION_{i}' for i in range(25)],
        'n_regionkey': pa.array([i % 5 for i in range(25)], pa.int32())})
    tables['customer'] = pa.table({
        'c_custkey': pa.array(range(n_cust), pa.int64()),
        'c_name': [f'Customer#{i:09d}' for i in range(n_cust)],
        'c_nationkey': pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        'c_acctbal': np.round(rng.uniform(0, 10_000, n_cust), 2),
        'c_mktsegment': _pick(rng, SEGMENTS, n_cust)})
    # nations dealt round-robin, then shuffled: every nation has the same
    # supplier count in every seed, so per-seed work stays comparable
    s_nation = rng.permutation(np.arange(n_supp) % 25 if landmarks
                               else np.arange(n_supp) % 24 + 1)
    tables['supplier'] = pa.table({
        's_suppkey': pa.array(range(n_supp), pa.int64()),
        's_name': [f'Supplier#{i:09d}' for i in range(n_supp)],
        's_nationkey': pa.array(s_nation, pa.int32()),
        's_acctbal': np.round(rng.uniform(0, 10_000, n_supp), 2)})
    adj = np.array(ADJS)[rng.integers(0, len(ADJS), n_part)]
    noun = np.array(NOUNS)[rng.integers(0, len(NOUNS), n_part)]
    tables['part'] = pa.table({
        'p_partkey': pa.array(range(n_part), pa.int64()),
        'p_name': [f'{a} {b}' for a, b in zip(adj, noun)],
        'p_brand': [f'Brand#{i}' for i in rng.integers(1, 26, n_part)],
        'p_type': _pick(rng, PTYPES, n_part),
        'p_size': pa.array(rng.integers(1, 51, n_part), pa.int32()),
        'p_retailprice': np.round(900 + np.arange(n_part) * 0.1, 2)})
    day0, day1 = 9131, 11536  # 1995-01-01 .. 2001-08-01
    tables['orders'] = pa.table({
        'o_orderkey': pa.array(range(n_ord), pa.int64()),
        'o_custkey': pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        'o_orderstatus': _pick(rng, ['F', 'O', 'P'], n_ord),
        'o_totalprice': np.round(rng.uniform(1000, 500_000, n_ord), 2),
        'o_orderdate': _ts(rng, n_ord, day0, day1),
        'o_orderpriority': _pick(rng, PRIORITIES, n_ord)})
    lines_per = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    n_li = len(l_ok)
    tables['lineitem'] = pa.table({
        'l_orderkey': pa.array(l_ok, pa.int64()),
        'l_partkey': pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        'l_suppkey': pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        'l_linenumber': pa.array(np.concatenate([np.arange(1, k + 1) for k in lines_per]),
                                 pa.int32()),
        'l_quantity': rng.integers(1, 51, n_li).astype(np.float64),
        'l_extendedprice': np.round(rng.uniform(900, 105_000, n_li), 2),
        'l_discount': np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        'l_tax': np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        'l_returnflag': _pick(rng, ['A', 'N', 'R'], n_li),
        'l_linestatus': _pick(rng, ['F', 'O'], n_li),
        'l_shipdate': _ts(rng, n_li, day0, day1 + 95)})
    ev_day0 = 19723  # 2024-01-01
    tables['events'] = pa.table({
        'event_id': pa.array(range(n_ev), pa.int64()),
        'ts': pa.array(rng.integers(ev_day0 * US_DAY, (ev_day0 + 30) * US_DAY, n_ev),
                       pa.timestamp('us')),
        'user_id': pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        'event_type': _pick(rng, EVTYPES, n_ev),
        'value': np.round(rng.uniform(0, 560, n_ev), 2),
        'props': [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    vocab = np.array(VOCAB)
    texts = [' '.join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(10, 101, n_doc)]
    tables['documents'] = pa.table({
        'doc_id': pa.array(range(n_doc), pa.int64()),
        'text': texts,
        'lang': pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=LANGP)]),
        'source': [f'src{i}' for i in rng.integers(0, 20, n_doc)],
        'n_chars': pa.array([len(t) for t in texts], pa.int64())})
    vecs = rng.normal(0, 1, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables['embeddings'] = pa.table({
        'vec_id': pa.array(range(n_emb), pa.int64()),
        'embedding': pa.array(list(vecs), pa.list_(pa.float32())),
        'label': pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(out, f'{name}.parquet'))


SIX = decimal.Context(prec=6, rounding=decimal.ROUND_HALF_EVEN)
EPOCH = datetime.datetime(1970, 1, 1)


def _number(d):
    if d == 0:
        return '0'
    if d == d.to_integral_value():
        return str(int(d))
    return '{:f}'.format(SIX.create_decimal(d).normalize())


def canon(v):
    """Mirror of `Catalogue.canon` in the Scala harness."""
    if v is None:
        return '\\N'
    if isinstance(v, bool):
        return 'true' if v else 'false'
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return 'NaN'
        if math.isinf(v):
            return 'inf' if v > 0 else '-inf'
        return _number(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return _number(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        return str((v.replace(tzinfo=None) - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return '{' + ','.join(canon(x) for x in v.values()) + '}'
    if isinstance(v, (list, tuple)):
        return '[' + ','.join(canon(x) for x in v) + ']'
    return str(v)


def canonical_sha(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: (columns[i], i))
    lines = sorted('\x1f'.join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update((line + '\n').encode())
    return h.hexdigest()


def oracle(data_dir, oracle_sql):
    """Digests of the DuckDB oracle results; queries without oracle SQL,
    or whose SQL DuckDB rejects, are left out (and listed in `errors`).
    """
    con = duckdb.connect()
    con.execute('SET threads TO 2')
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    digests, errors = {}, {}
    for name, sql in sorted(oracle_sql.items()):
        if not sql:
            continue
        try:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
        except duckdb.Error as e:
            errors[name] = str(e).splitlines()[0][:300]
            continue
        digests[name] = {'rows': len(rows), 'sha256': canonical_sha(cols, rows)}
    con.close()
    return digests, errors
