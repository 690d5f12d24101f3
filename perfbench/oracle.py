"""Output checks for the curation passes. Each query's Spark output must equal an
expected result computed apart from the engine, on the same input files:

* pq39_kmeans: the result of its registered DuckDB oracle SQL;
* pq23_dedup_clusters, pq97_deletion_reelect, pq106_link_pagerank: their
  oracles close a transitive relation or unroll an iteration with correlated
  subqueries, which costs DuckDB 9-29 s each even at 500 documents. Here the
  LSH candidate pairs still come from the oracle SQL (DuckDB), and the
  clustering, the re-election after deletion and the integer PageRank are
  recomputed in Python with the oracle's formulas.

Comparison rules follow tools/oracle_check.py: columns sorted by name, rows
sorted by all columns, values equal (NaN equals NaN), and for DuckDB-computed
expectations the type families equal too.
"""
import json
import math

import duckdb

INT_TYPES = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT", "UINTEGER"}
SQL_CHECKED = {"pq39_kmeans"}
CC_SELECT = "SELECT id, cluster_id FROM clusters"


def _family(t):
    if t in INT_TYPES:
        return "INT"
    if t in ("FLOAT", "DOUBLE"):
        return "FLOAT"
    return t


def _row_key(r):
    return tuple((v is None, str(v)) for v in r)


def _sorted(con, query):
    rel = con.sql(query)
    cols = sorted(rel.columns)
    rel = rel.project(", ".join(f'"{c}"' for c in cols))
    types = [_family(str(t)) for t in rel.types]
    return cols, types, sorted(rel.fetchall(), key=_row_key)


def _eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b


def _components(pairs):
    """Smallest member of each node's connected component."""
    parent = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def _clusters(pairs):
    return [(c, i) for i, c in _components(pairs).items()]          # (cluster_id, id)


def _reelect(pairs, doc_ids):
    removed = {d for d in doc_ids if d % 5 == 0}
    old = _components(pairs)
    new = _components([(a, b) for a, b in pairs if a not in removed and b not in removed])
    groups = {}
    for i, oc in old.items():
        if i not in removed:
            key = (new.get(i, i), oc)
            groups[key] = groups.get(key, 0) + 1
    # (n_members, new_keep_id, old_cluster_id)
    return [(n, nk, oc) for (nk, oc), n in groups.items() if nk != oc]


def _pagerank(doc_ids, iterations=5, scale=10**12):
    edges = set()
    for i in doc_ids:
        if i % 7 == 0:                      # pages carrying robots nofollow
            continue
        h = i % 5
        src = f"https://h{h}.example.org/a/b/page{i}"
        edges.add((src, f"https://h{h}.example.org/a/b/p/{(i * 3) % 1000}"))
        edges.add((src, f"https://h{h}.example.org/a/up/{i}"))
        edges.add((src, f"https://h{(i + 1) % 5}.example.org/x?k={i % 9}"))
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    nodes = {s for s, _ in edges} | {d for _, d in edges}
    n = len(nodes)
    rank = {v: scale // n for v in nodes}
    for _ in range(iterations):
        dangling = sum(r for v, r in rank.items() if v not in deg)
        base = (scale * 15) // (100 * n) + (dangling * 85) // (100 * n)
        nxt = {v: base for v in nodes}
        for s, d in edges:
            nxt[d] += (rank[s] * 85) // (100 * deg[s])
        rank = nxt
    return [(v, r) for v, r in rank.items()]                        # (node, rank)


def check(data_dir, out_dir, tables):
    """Returns {query: None if it matches, else a one-line reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    doc_ids = [r[0] for r in con.sql("SELECT doc_id FROM documents").fetchall()]
    cc_sql = oracle["pq23_dedup_clusters"]
    pairs = con.sql(cc_sql[:cc_sql.rindex(CC_SELECT)] + "SELECT id_a, id_b FROM pairs").fetchall()
    computed = {
        "pq23_dedup_clusters": (["cluster_id", "id"], lambda: _clusters(pairs)),
        "pq97_deletion_reelect": (["n_members", "new_keep_id", "old_cluster_id"],
                                  lambda: _reelect(pairs, doc_ids)),
        "pq106_link_pagerank": (["node", "rank"], lambda: _pagerank(doc_ids)),
    }
    verdicts = {}
    for name in sorted(oracle):
        try:
            gc, gt, got = _sorted(con, f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            if name in SQL_CHECKED:
                ec, et, exp = _sorted(con, oracle[name])
            else:
                ec, make = computed[name]
                et, exp = gt, sorted(make(), key=_row_key)
        except Exception as e:  # a check that cannot run is a failed check
            verdicts[name] = f"error: {e}"
            continue
        if gc != ec or len(got) != len(exp):
            verdicts[name] = f"cols {gc} vs {ec}; rows {len(got)} vs {len(exp)}"
        elif gt != et:
            verdicts[name] = f"types {gt} vs {et}"
        else:
            diff = next(((i, c) for i, (ra, rb) in enumerate(zip(got, exp))
                         for c, a, b in zip(gc, ra, rb) if not _eq(a, b)), None)
            verdicts[name] = None if diff is None else f"first diff row {diff[0]} col {diff[1]}"
    con.close()
    return verdicts
