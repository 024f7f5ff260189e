"""Seeded input generators for the benchmark workloads.

Everything the program reads is written here from the seed alone: the same
seed gives byte-identical files. The program under test never sees the seed.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- game logs
# Wire formats: FIXTURES.md A1 (kills), A2 (damages), A3 (player dimension).

GAME = dict(
    players=20000,     # distinct steamIds in the player universe
    batches=8,         # one kill file + one damage file per micro-batch
    kill_lines=1000,   # lines per kill file
    damage_lines=1500, # lines per damage file
    warm_batches=2,    # the untimed warm-up replay
    series=10,         # players shown by the series and matrix dashboards
)
TICKS_PER_BATCH = 128 * 40      # 40 game seconds per file
ROUND_EVERY = 4                 # batches per game round (round 0 = first 4)


def steam_id(i):
    return "7656119%010d" % (8000000000 + i)


def _player_tables(rng, n):
    """Canonical names, alternate names and activity weights (skewed)."""
    names = np.array(["p%05d_%s" % (i, "abcdefghij"[i % 10]) for i in range(n)])
    alt = np.array(["q%05d" % i for i in range(n)])  # sorts above "p..."
    # Zipf-like activity over a random permutation of the players
    rank = rng.permutation(n)
    w = 1.0 / np.power(rank + 20.0, 1.1)
    return names, alt, w / w.sum()


def _write_lines(path, lines, mtime):
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.utime(path, (mtime, mtime))


def _game_stream(rng, out, names, alt, w, batches, t0_batch, mtime0):
    n = len(names)
    kd = os.path.join(out, "kills")
    dd = os.path.join(out, "damages")
    os.makedirs(kd, exist_ok=True)
    os.makedirs(dd, exist_ok=True)
    for b in range(batches):
        gb = t0_batch + b
        tick0 = gb * TICKS_PER_BATCH
        rnd = gb // ROUND_EVERY
        K, D = GAME["kill_lines"], GAME["damage_lines"]
        ticks = rng.integers(tick0, tick0 + TICKS_PER_BATCH, K)
        killer = rng.choice(n, K, p=w)
        victim = rng.choice(n, K, p=w)
        assist = rng.choice(n, K, p=w)
        u = rng.random((K, 6))
        lines = []
        for i in range(K):
            k, v, a = killer[i], victim[i], assist[i]
            kname = "" if u[i, 0] < 0.03 else ("  " if u[i, 0] < 0.04 else
                     (alt[k] if u[i, 1] < 0.08 else names[k]))
            vname = "" if u[i, 2] < 0.03 else names[v]
            r = u[i, 3]
            aname = "" if r < 0.35 else ("0" if r < 0.55 else names[a])
            lines.append("k,%d,%d,%s,%s,x,x,%s,%s,x,x,%s,%s" % (
                ticks[i], rnd, kname, steam_id(k), vname, steam_id(v),
                aname, steam_id(a)))
        _write_lines(os.path.join(kd, "k_%05d.csv" % b), lines, mtime0 + b)
        ticks = rng.integers(tick0, tick0 + TICKS_PER_BATCH, D)
        dmg = rng.choice(n, D, p=w)
        old = rng.integers(1, 101, D)
        amt = rng.integers(-5, 60, D)  # a few heals: negative damage
        u = rng.random(D)
        lines = []
        for i in range(D):
            sid = "" if u[i] < 0.03 else steam_id(dmg[i])
            lines.append("d,%d,%d,x,x,%d,%d,x,x,%s" % (
                ticks[i], rnd, old[i], old[i] - amt[i], sid))
        _write_lines(os.path.join(dd, "d_%05d.csv" % b), lines, mtime0 + b)


def gen_game(seed, out):
    rng = np.random.default_rng([seed, 1])
    n = GAME["players"]
    names, alt, w = _player_tables(rng, n)
    # dimension: every player but ~10% (those keep a blank name when the
    # stream never names them); trailing team field always present
    keep = rng.random(n) >= 0.10
    dim = ["%s,%s,x,%s" % ("d" + names[i], steam_id(i), "T%d" % (i % 2))
           for i in range(n) if keep[i]]
    os.makedirs(out, exist_ok=True)
    _write_lines(os.path.join(out, "players.csv"), dim, 1_600_000_000)
    # the dashboards' players: the ten most active ids
    top = np.argsort(-w, kind="stable")[:GAME["series"]]
    with open(os.path.join(out, "series.txt"), "w") as f:
        f.write("\n".join(steam_id(i) for i in top) + "\n")
    _game_stream(rng, os.path.join(out, "main"), names, alt, w,
                 GAME["batches"], 0, 1_600_000_000)
    _game_stream(np.random.default_rng([seed, 2]), os.path.join(out, "warm"),
                 names, alt, w, GAME["warm_batches"], 0, 1_600_000_000)
    # read by the traced run's catalog pass only
    gen_catalog(seed, os.path.join(out, "catalog"))


# ----------------------------------------------------------------- RAG corpus
# Shape of the fixture corpus (FIXTURES.md B; measured in the sf0.1 and
# sf0.01 `documents`/`embeddings` tables of TESTDATA.md): a 30-word
# vocabulary drawn uniformly, 10-99 words a document (uniform), 5 % of the
# documents another document's text plus " dup", `lang` en 41 % and
# de/es/fr/zh ~15 % each, `source` = src(doc_id % 20), `n_chars` = the text's
# length. Vectors: dim 64, Gaussian scaled to unit length, `label` uniform
# over 0-9, `vec_id` = `doc_id` for the lowest ids. At sf0.1 the tables hold
# 5 000 documents and 2 000 embeddings, so under q304's documents ⋈
# embeddings (full outer on id) 40 % of the documents carry a vector; at
# sf0.01 both hold 500.

VOCAB = np.array("a the key agg row scan slow fast table value part hash merge batch "
                 "spark line sort window order data column join small big customer "
                 "query stream filter group vector".split())
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = np.array([0.41, 0.1475, 0.1475, 0.1475, 0.1475])

# the sf0.1 corpus at 2/5 of its size, same vector share; sliced as q304
# slices it (query documents in slice 0, the rest by id % 3)
RAG = dict(docs=2000, vecs=800, dim=64, slices=3, warm_slices=1, queries=6)


def _docs_table(rng, n):
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))) for _ in range(n)]
    for i in np.nonzero(rng.random(n) < 0.05)[0]:
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _emb_table(rng, n, dim):
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
        pa.array(v.reshape(-1)))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def rag_slice_of(doc_id, slices, queries):
    """Slice (= micro-batch) a document is ingested in: the query documents
    ride in slice 0, the rest round-robin by id."""
    return 0 if doc_id < queries else doc_id % slices


def gen_rag(seed, out):
    rng = np.random.default_rng([seed, 3])
    docs = _docs_table(rng, RAG["docs"])
    emb = _emb_table(rng, RAG["vecs"], RAG["dim"])
    os.makedirs(out, exist_ok=True)
    pq.write_table(docs, os.path.join(out, "documents.parquet"))
    pq.write_table(emb, os.path.join(out, "embeddings.parquet"))
    # docs ⋈ embeddings (full outer on id): every doc has an id < docs
    ids = np.arange(RAG["docs"], dtype=np.int64)
    has_vec = ids < RAG["vecs"]
    sl = np.array([rag_slice_of(int(i), RAG["slices"], RAG["queries"])
                   for i in ids])
    texts = docs.column("text")
    embs = emb.column("embedding")
    for s in range(RAG["slices"]):
        pick = np.nonzero(sl == s)[0]
        t = pa.table({
            "doc_id": pa.array(ids[pick]),
            "text": texts.take(pa.array(pick)),
            "vec_id": pa.array([int(i) if has_vec[i] else None for i in pick],
                               type=pa.int64()),
            "embedding": pa.array(
                [embs[int(i)].as_py() if has_vec[i] else None for i in pick],
                type=pa.list_(pa.float32())),
        })
        # the warm-up lifecycle ingests the first slices alone
        for d in ["slices"] + (["warm_slices"] if s < RAG["warm_slices"] else []):
            os.makedirs(os.path.join(out, d), exist_ok=True)
            p = os.path.join(out, d, "slice_%03d.parquet" % s)
            pq.write_table(t, p)
            os.utime(p, (1_600_000_000 + s, 1_600_000_000 + s))


# ------------------------------------------------------------ catalog tables
# The tables the catalog pass's queries read (CatalogMix.scala), at the sf0.01 row counts and with
# the column types and value domains of the fixture tables (FIXTURES.md B,
# measured at sf0.01): lineitem rows pick their order uniformly (1-13 lines
# an order, ~4 on average), ship dates and extended prices are drawn apart
# from the order, orders pick a customer among 1 500.

CATALOG = dict(lineitem=60000, orders=15000, customers=1500, part=2000,
               supplier=100, docs=500, vecs=500)


def gen_catalog(seed, out):
    rng = np.random.default_rng([seed, 4])
    n = CATALOG
    os.makedirs(out, exist_ok=True)

    def w(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"))

    def pick(values, k):
        return pa.array(np.array(values)[rng.integers(0, len(values), k)])

    def days(first, last, k):
        span = (np.datetime64(last) - np.datetime64(first)).astype(int) + 1
        return pa.array(np.datetime64(first, "us")
                        + rng.integers(0, span, k) * np.timedelta64(1, "D"))

    w("supplier", {
        "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
        "s_name": pa.array(["Supplier#%09d" % i for i in range(n["supplier"])]),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2))})
    k = n["part"]
    w("part", {
        "p_partkey": pa.array(np.arange(k, dtype=np.int64)),
        "p_name": pa.array([a + " " + b for a, b in zip(
            np.array("small red blue hot large shiny old new".split())[rng.integers(0, 8, k)],
            np.array("ring widget bolt gear anvil pipe nut valve".split())[rng.integers(0, 8, k)])]),
        "p_brand": pa.array(["Brand#%d" % b for b in rng.integers(1, 26, k)]),
        "p_type": pick("ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split(), k),
        "p_size": pa.array(rng.integers(1, 51, k).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(k) % 1000) / 10.0)})
    k = n["orders"]
    w("orders", {
        "o_orderkey": pa.array(np.arange(k, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n["customers"], k).astype(np.int64)),
        "o_orderstatus": pick(["F", "O", "P"], k),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, k), 2)),
        "o_orderdate": days("1995-01-01", "2001-08-01", k),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                 "5-LOW"], k)})
    k = n["lineitem"]
    w("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n["part"], k).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, k).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, k).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, k), 2)),
        "l_discount": pa.array(rng.integers(0, 11, k) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, k) / 100.0),
        "l_returnflag": pick(["A", "N", "R"], k),
        "l_linestatus": pick(["F", "O"], k),
        "l_shipdate": days("1995-01-02", "2001-11-04", k)})
    pq.write_table(_docs_table(rng, n["docs"]), os.path.join(out, "documents.parquet"))
    pq.write_table(_emb_table(rng, n["vecs"], 64), os.path.join(out, "embeddings.parquet"))


GENERATORS = {"stream_scoreboard": gen_game, "rag_lifecycle": gen_rag}

if __name__ == "__main__":
    GENERATORS[sys.argv[1]](int(sys.argv[2]), sys.argv[3])
