"""Output checks that do not depend on the engine.

Each check reads what a unit wrote with DuckDB (or plain Python) and
compares it with a reference computed from the generated inputs:

- etl_parquet: row count and an order-insensitive hash of every extract,
  against DuckDB running the same extract SQL over the same parquet;
- etl_jdbc: the rows read back from the database equal the source rows;
- dedup_search: every reported pair really has shingle Jaccard >= 0.6,
  enough planted pairs are found (`dup_recall`), the kept documents are
  the best of each connected component of the reported pairs, and enough
  `annKnn` neighbours are in DuckDB's exact cosine top-10 (`recall_at_10`);
- stream_cdc: the mirror equals the latest change per key without deletes.

`check(workload, inputs, units)` returns one verdict (True/False) per unit
and the quality figures it measured.
"""
import json
import os

import duckdb

import gen

# Floors under which a dedup_search unit counts as failed: a change that
# buys speed with lost quality fails the run instead of passing as faster.
MIN_DUP_RECALL = 0.95
MIN_RECALL_AT_10 = 0.60


def _con():
    c = duckdb.connect()
    c.execute("SET threads TO 4")
    return c


def _fingerprint(con, relation):
    """(rows, columns, order-insensitive hash) of a relation, every value
    compared as text so integer widths and column names do not matter."""
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()]
    row = ", ".join(f'CAST("{c}" AS VARCHAR)' for c in cols)
    n, h = con.execute(
        f"SELECT count(*), CAST(coalesce(sum(hash({row})), 0) AS VARCHAR) FROM {relation}"
    ).fetchone()
    return [n, len(cols), h]


def _parquet(path):
    return f"read_parquet('{path}/*.parquet')"


def _cached(inputs, name, compute):
    path = os.path.join(inputs, name)
    if os.path.isfile(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    with open(path + ".tmp", "w") as f:
        json.dump(value, f)
    os.replace(path + ".tmp", path)
    return value


def check_etl_parquet(inputs, prepared, units):
    con = _con()

    def expected():
        for t in ("lineitem", "orders", "customer"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
        out = {}
        with open(os.path.join(inputs, "jobs.tsv")) as f:
            for line in f:
                if line.strip():
                    name, sql, _ = line.rstrip("\n").split("\t")
                    out[name] = _fingerprint(con, f"({sql})")
        return out
    want = _cached(inputs, "expected.json", expected)
    return [_fingerprint(con, _parquet(u["out"]["path"])) == want[u["out"]["job"]]
            for u in units], {}


def check_etl_jdbc(inputs, prepared, units):
    con = _con()
    with open(os.path.join(inputs, "params.properties")) as f:
        p = dict(line.strip().split("=", 1) for line in f if "=" in line)
    lo, hi = int(p["offset"]), int(p["offset"]) + int(p["rows"])
    want = _fingerprint(con, f"(SELECT * FROM {_parquet(prepared + '/addresses')} "
                             f"WHERE id > {lo} AND id <= {hi})")
    return [_fingerprint(con, _parquet(u["out"]["path"])) == want for u in units], {}


def _components(ids, pairs):
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for i in ids:
        comp.setdefault(find(i), []).append(i)
    return comp


def check_dedup_search(inputs, prepared, units):
    con = _con()
    docs = con.execute(
        f"SELECT doc_id, text, quality FROM '{inputs}/documents.parquet'").fetchall()
    text = {d: t for d, t, _ in docs}
    quality = {d: q for d, _, q in docs}
    truth = set(con.execute(f"SELECT id_a, id_b FROM '{inputs}/truth_pairs.parquet'").fetchall())

    def exact_top10():
        rows = con.execute(f"""
            SELECT q.vec_id, e.vec_id,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY
                     list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                            CAST(e.embedding AS DOUBLE[])) DESC, e.vec_id) AS rk
            FROM '{inputs}/queries.parquet' q, '{inputs}/embeddings.parquet' e
            QUALIFY rk <= 10""").fetchall()
        top = {}
        for q, e, _ in rows:
            top.setdefault(str(q), []).append(e)
        return top
    top10 = {int(k): set(v) for k, v in _cached(inputs, "expected.json", exact_top10).items()}

    verdicts, recalls, ann_recalls = [], [], []
    for u in units:
        out = u["out"]
        pairs = con.execute(f"SELECT id_a, id_b FROM {_parquet(out['pairs'])}").fetchall()
        pairs = {(min(a, b), max(a, b)) for a, b in pairs}
        precise = all(gen.jaccard(text[a], text[b]) >= gen.JACCARD - 1e-9 for a, b in pairs)
        recall = len(pairs & truth) / len(truth)

        kept = con.execute(
            f"SELECT cluster_rep, doc_id, cluster_size FROM {_parquet(out['kept'])}").fetchall()
        want = set()
        for rep, members in _components(text.keys(), pairs).items():
            best = max(members, key=lambda m: (quality[m], -m))
            want.add((rep, best, len(members)))
        clusters_ok = len(kept) == len(want) and set(kept) == want

        got = {}
        with open(out["ann"]) as f:
            for line in f:
                if line.strip():
                    q, nn, _ = line.split("\t")
                    got.setdefault(int(q), set()).add(int(nn))
        hits = sum(len(got.get(q, set()) & top) for q, top in top10.items())
        ann_recall = hits / (10 * len(top10))
        ann_ok = all(len(v) <= 10 for v in got.values())

        recalls.append(recall)
        ann_recalls.append(ann_recall)
        verdicts.append(precise and clusters_ok and ann_ok and recall >= MIN_DUP_RECALL
                        and ann_recall >= MIN_RECALL_AT_10)
    quality_figures = {}
    if units:
        quality_figures = {"dup_recall": min(recalls), "recall_at_10": min(ann_recalls)}
    return verdicts, quality_figures


def check_stream_cdc(inputs, prepared, units):
    con = _con()
    want = _cached(inputs, "expected.json", lambda: {"mirror": _fingerprint(con, f"""(
        SELECT k, v, ts FROM (
          SELECT *, row_number() OVER (PARTITION BY k ORDER BY ts DESC, seq DESC) AS rk
          FROM read_parquet('{inputs}/changes/*.parquet'))
        WHERE rk = 1 AND op <> 'delete')""")})
    # all micro-batches of one cdcApply call share that call's mirror
    seen = {}
    verdicts = []
    for u in units:
        m = u["out"]["mirror"]
        if m not in seen:
            seen[m] = _fingerprint(con, _parquet(m)) == want["mirror"]
        verdicts.append(seen[m])
    return verdicts, {}


CHECKS = {
    "etl_parquet": check_etl_parquet,
    "etl_jdbc": check_etl_jdbc,
    "dedup_search": check_dedup_search,
    "stream_cdc": check_stream_cdc,
}


def check(workload, inputs, prepared, units):
    """Verdicts for the units the engine completed; units it failed are
    not read and count as failed. `prepared` holds the inputs the engine
    generated itself (see gen.ENGINE_PREPARED)."""
    done = [u for u in units if u["ok"]]
    verdicts, figures = CHECKS[workload](inputs, prepared, done)
    it = iter(verdicts)
    return [bool(next(it)) if u["ok"] else False for u in units], figures
