"""Seeded input generator for the four benchmark workloads.

`ensure(workload, seed)` writes the inputs of one workload under
`.bench_build/inputs/<workload>-<seed>-<hash of this file>/` and reuses them
when they already exist. The same seed always gives the same inputs; every size
is fixed, and the seed only chooses contents, so runs on different seeds do
the same amount of work.
"""
import datetime
import hashlib
import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
INPUTS = os.path.join(os.path.dirname(HERE), ".bench_build", "inputs")

# etl_parquet: TPC-H-shaped tables and one large plus four small jobs.
ORDERS = 40_000
CUSTOMERS = 4_000
# etl_jdbc: addresses per load round, and how many such id ranges the
# seed chooses from.
ADDRESS_ROWS = 10_000
ADDRESS_RANGES = 16
# dedup_search: corpus documents (about a fifth are planted near-duplicates),
# embedding corpus, queries, dimension.
DOCUMENTS = 2_000
VECTORS = 2_000
QUERIES = 50
DIM = 64
# stream_cdc: change rows over a key space, one file per micro-batch.
CHANGE_KEYS = 2_000
CHANGE_FILES = 6
CHANGES_PER_FILE = 1_000

SHINGLE_N = 3
JACCARD = 0.6

WORDS = ("a the spark line column order small sort fast value scan hash slow "
         "group batch agg filter query big key window row part table stream "
         "merge data join vector customer lake index shard plan cache node "
         "graph rank page token text doc file block commit log event user "
         "time price item store region market ship date tax flag").split()


def shingles(text, n=SHINGLE_N):
    """Distinct word n-grams of the lowercased text, the set MinHash
    dedup estimates and verifies."""
    w = text.lower().split(" ")
    return {" ".join(w[i:i + n]) for i in range(max(len(w) - (n - 1), 1))}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def _params(d, **kv):
    with open(os.path.join(d, "params.properties"), "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in kv.items())


def gen_etl_parquet(d, rng):
    day0 = datetime.date(1992, 1, 1)
    o_date = rng.randint(0, 2400, ORDERS)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(1, ORDERS + 1, dtype=np.int64)),
        "o_custkey": pa.array(rng.randint(1, CUSTOMERS + 1, ORDERS).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], ORDERS)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, ORDERS), 2)),
        "o_orderdate": pa.array([day0 + datetime.timedelta(days=int(x)) for x in o_date],
                                pa.date32()),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], ORDERS)),
    })
    lines = rng.randint(1, 8, ORDERS)
    n = int(lines.sum())
    okey = np.repeat(np.arange(1, ORDERS + 1, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.randint(1, 51, n).astype(np.float64)
    ship = np.repeat(o_date, lines) + rng.randint(1, 122, n)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.randint(1, 20001, n).astype(np.int64)),
        "l_suppkey": pa.array(rng.randint(1, 1001, n).astype(np.int64)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n), 2)),
        "l_discount": pa.array(rng.randint(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.randint(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["R", "A", "N"], n)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n)),
        "l_shipdate": pa.array([day0 + datetime.timedelta(days=int(x)) for x in ship],
                               pa.date32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(1, CUSTOMERS + 1, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, CUSTOMERS + 1)]),
        "c_nationkey": pa.array(rng.randint(0, 25, CUSTOMERS).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, CUSTOMERS), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], CUSTOMERS)),
    })
    pq.write_table(orders, os.path.join(d, "orders.parquet"))
    pq.write_table(lineitem, os.path.join(d, "lineitem.parquet"))
    pq.write_table(customer, os.path.join(d, "customer.parquet"))

    # Fixed job shapes; the seed picks the slice each small job extracts,
    # each sized near the reference's own 13,421-row job.
    nations = ", ".join(str(x) for x in sorted(rng.choice(25, 4, replace=False)))
    jobs = [
        ("big_join",
         "SELECT l.l_orderkey, l.l_linenumber, o.o_custkey, o.o_orderdate, l.l_quantity, "
         "l.l_extendedprice * (1 - l.l_discount) AS net, l.l_shipdate "
         "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"),
        ("supp_slice",
         "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice "
         f"FROM lineitem WHERE l_suppkey % 12 = {rng.randint(0, 12)}"),
        ("nation_orders",
         "SELECT c.c_custkey, c.c_name, c.c_mktsegment, o.o_orderkey, o.o_totalprice "
         "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
         f"WHERE c.c_nationkey IN ({nations})"),
        ("part_agg",
         "SELECT l_suppkey, l_returnflag, COUNT(*) AS n, CAST(SUM(l_quantity) AS BIGINT) AS qty "
         f"FROM lineitem WHERE l_partkey % 7 = {rng.randint(0, 7)} "
         "GROUP BY l_suppkey, l_returnflag"),
        ("cust_copy",
         "SELECT c_custkey AS id, upper(c_name) AS name, c_nationkey, c_acctbal "
         f"FROM customer WHERE c_acctbal > {round(float(rng.uniform(-999, 1000)), 2)}"),
    ]
    with open(os.path.join(d, "jobs.tsv"), "w") as f:
        f.writelines(f"{name}\t{sql}\t{name}\n" for name, sql in jobs)


def gen_etl_jdbc(d, rng):
    # The rows themselves come from the engine's Generator.addresses, which
    # is deterministic per id; the seed picks which id range is loaded.
    _params(d, rows=ADDRESS_ROWS, offset=int(rng.randint(0, ADDRESS_RANGES)) * ADDRESS_ROWS,
            span=ADDRESS_RANGES * ADDRESS_ROWS)


def _doc(rng):
    return " ".join(rng.choice(WORDS, rng.randint(25, 61)))


def _variant(text, rng):
    w = text.split(" ")
    for _ in range(rng.randint(1, 3)):
        w[rng.randint(len(w))] = WORDS[rng.randint(len(WORDS))]
    return " ".join(w)


def gen_dedup_search(d, rng):
    texts, groups = [], []
    # near-duplicate groups of 2-3 documents until a fifth of the corpus
    # is planted; every pair inside a group is a near-duplicate (Jaccard
    # >= 0.65), so each cluster has diameter 1 and dupClusters runs the
    # same number of rounds on every seed
    while len(texts) < DOCUMENTS // 5:
        base = _doc(rng)
        members, size = [base], rng.randint(2, 4)
        while len(members) < size:
            v = _variant(base, rng)
            if v not in members and all(jaccard(m, v) >= 0.65 for m in members):
                members.append(v)
        groups.append(list(range(len(texts), len(texts) + len(members))))
        texts += members
    while len(texts) < DOCUMENTS:
        texts.append(_doc(rng))
    ids = rng.permutation(DOCUMENTS).astype(np.int64)
    truth = [tuple(sorted((int(ids[g[i]]), int(ids[g[j]]))))
             for g in groups for i in range(len(g)) for j in range(i + 1, len(g))]
    docs = pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "quality": pa.array(rng.random_sample(DOCUMENTS)),
    })
    pq.write_table(docs.take(pa.array(np.argsort(ids))), os.path.join(d, "documents.parquet"))
    pq.write_table(pa.table({"id_a": pa.array([a for a, _ in truth], pa.int64()),
                     "id_b": pa.array([b for _, b in truth], pa.int64())}),
           os.path.join(d, "truth_pairs.parquet"))

    centers = rng.normal(size=(40, DIM))
    vec = centers[rng.randint(0, 40, VECTORS)] + rng.normal(scale=0.7, size=(VECTORS, DIM))
    qv = centers[rng.randint(0, 40, QUERIES)] + rng.normal(scale=0.7, size=(QUERIES, DIM))

    def vectors(ids, m):
        return pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array([list(r) for r in m.astype(np.float32)],
                                  pa.list_(pa.float32())),
        })
    pq.write_table(vectors(np.arange(VECTORS), vec), os.path.join(d, "embeddings.parquet"))
    pq.write_table(vectors(np.arange(QUERIES) + 1_000_000, qv), os.path.join(d, "queries.parquet"))
    _params(d, documents=DOCUMENTS, vectors=VECTORS, queries=QUERIES)


def gen_stream_cdc(d, rng):
    # events-shaped changes: a user key, a microsecond timestamp that
    # mostly advances with the batch (one change in twenty arrives late,
    # up to three batches back), a unique sequence number as tie-breaker,
    # and an upsert or (one in ten) a delete
    os.makedirs(os.path.join(d, "changes"))
    t0 = 1_704_067_200_000_000
    span = 60_000_000
    for f in range(CHANGE_FILES):
        n = CHANGES_PER_FILE
        late = rng.random_sample(n) < 0.05
        batch = np.where(late, np.maximum(f - rng.randint(1, 4, n), 0), f)
        ts = t0 + batch * span + rng.randint(0, span, n)
        t = pa.table({
            "k": pa.array(rng.randint(0, CHANGE_KEYS, n).astype(np.int64)),
            "ts": pa.array(ts.astype(np.int64)),
            "seq": pa.array(np.arange(f * n, (f + 1) * n, dtype=np.int64)),
            "op": pa.array(np.where(rng.random_sample(n) < 0.1, "delete", "upsert")),
            "v": pa.array(np.round(rng.uniform(0, 1000, n), 2)),
        })
        pq.write_table(t, os.path.join(d, "changes", f"part-{f:05d}.parquet"))
    _params(d, rows=CHANGE_FILES * CHANGES_PER_FILE)


# Workloads whose inputs the engine's own generator completes
# (`Generator.addresses`, every id range at once); run.py has a JVM of
# their own write them once per build, before any timed JVM starts.
ENGINE_PREPARED = {"etl_jdbc"}

GENERATORS = {
    "etl_parquet": gen_etl_parquet,
    "etl_jdbc": gen_etl_jdbc,
    "dedup_search": gen_dedup_search,
    "stream_cdc": gen_stream_cdc,
}


def ensure(workload, seed):
    """Directory holding the inputs of `workload` for `seed`."""
    with open(os.path.abspath(__file__), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(INPUTS, f"{workload}-{seed}-{version}")
    if os.path.isfile(os.path.join(d, ".complete")):
        return d
    os.makedirs(INPUTS, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{workload}-", dir=INPUTS)
    GENERATORS[workload](tmp, np.random.RandomState(seed % (2 ** 32)))
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d
