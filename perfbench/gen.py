"""Seeded input generators for the benchmark's workloads.

Every generator is a pure function of its seed and sizes: the same seed
gives byte-identical files, a different seed gives different ones
(test_bench.py checks both). The program under test only ever sees the
files written here.

- catalog_fixture: the ten fixture tables the catalog entries read, in the
  shape and value ranges of the sf0.001 fixture tables. The catalog writes
  them from one fixed seed, because its expected output digests are
  committed (expected_digests.json); the run seed orders the entries.
- tweet_files: JSON-lines tweet statuses, one file per generator tick, for
  the tweet_stream workload.
- vector_sets: the IVF corpus plus the ingest and probe streams of the
  index lifecycle phase of the traced tweet_stream run.
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42

# The candidate hashtags of the collector's track filter (TweetSchema).
HASHTAGS = ["#LePen", "#Macron", "#Fillon", "#JLM2017", "#Hamon",
            "#Mélenchon", "#Sarkozy"]
FR_WORDS = ("le la les un une des et ou mais donc or ni car vote débat "
            "élection candidat président france république sondage meeting "
            "programme réforme emploi école santé sécurité europe économie "
            "jeunes retraite impôts travail avenir").split()
# Characters the collector must sanitize: tab, double quote, comma, CR/LF,
# other control characters, the reference's literal "[\r\n]", and emoji.
DIRTY = ["\t", "\"", ",", "\r\n", "\u0007", "[\r\n]", "\U0001F1EB\U0001F1F7",
         "|"]
LANGS = ["fr", "fr-CA", "en", None]
TWEET_EPOCH = datetime.datetime(2017, 4, 1)

DOC_WORDS = ("the a data spark stream query row fast slow small big group "
             "customer line sort hash batch filter value key order table scan "
             "merge part window join agg column vector").split()


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def catalog_fixture(out_dir, seed=FIXTURE_SEED):
    """Write region, nation, customer, supplier, part, orders, lineitem,
    events, documents and embeddings as <out_dir>/<name>.parquet, with the
    sf0.001 row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = 150, 10, 200
    n_ord, n_line, n_ev = 1500, 6000, 1000
    n_doc, n_emb = 500, 500

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, span, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, span, n).astype("timedelta64[D]")

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": regions}), f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)],
                                             pa.int32())}),
           f"{out_dir}/nation.parquet")
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    _write(pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": list(rng.choice(segments, n_cust))}),
        f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)}),
        f"{out_dir}/supplier.parquet")
    adjs = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    _write(pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rng.choice(adjs)} {rng.choice(nouns)}"
                   for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": list(rng.choice(types, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": [round(900 + (i % 200) * 0.1, 1)
                          for i in range(n_part)]}),
        f"{out_dir}/part.parquet")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    _write(pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": pa.array(days("1995-01-01", 2404, n_ord),
                                pa.timestamp("us")),
        "o_orderpriority": list(rng.choice(prios, n_ord))}),
        f"{out_dir}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(float),
        "l_extendedprice": money(900, 100000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": list(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": list(rng.choice(["F", "O"], n_line)),
        "l_shipdate": pa.array(days("1995-01-02", 2498, n_line),
                               pa.timestamp("us"))}),
        f"{out_dir}/lineitem.parquet")
    ev_ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    _write(pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ev_ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_cust // 10, n_ev), pa.int64()),
        "event_type": list(rng.choice(
            ["click", "error", "purchase", "signup", "view"], n_ev)),
        "value": money(0.01, 500, n_ev),
        "props": [json.dumps({"k": int(k)})
                  for k in rng.integers(0, 100, n_ev)]}),
        f"{out_dir}/events.parquet")

    # documents: random word sequences; one in ten is a near copy of an
    # earlier document (one word replaced, " dup" appended), so the
    # near-duplicate entries find pairs
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(rng.choice(DOC_WORDS))
            texts.append(" ".join(words) + " dup")
        else:
            texts.append(" ".join(rng.choice(DOC_WORDS,
                                             int(rng.integers(10, 100)))))
    langs = rng.choice(["en", "en", "de", "es", "fr", "zh"], n_doc)
    _write(pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": list(langs),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out_dir}/documents.parquet")

    vecs, labels = clustered_unit_vectors(rng, n_emb, unit_centers(rng, 10, 64))
    _write(pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        f"{out_dir}/embeddings.parquet")


def unit_centers(rng, clusters, dim):
    c = rng.normal(size=(clusters, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def clustered_unit_vectors(rng, n, centers, spread=0.35):
    """n float32 unit vectors scattered around the unit `centers`; returns
    (vectors, labels)."""
    labels = rng.integers(0, len(centers), n)
    dim = centers.shape[1]
    v = centers[labels] + rng.normal(scale=spread / np.sqrt(dim),
                                     size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels.astype(np.int32)


def tweet_status(rng, seq, texts):
    """One tweet status as a JSON line. `created_at` is TWEET_EPOCH plus
    `seq` seconds, so every collected line names its tweet. The mix: hashtag
    hits and misses, fr / fr-CA / en / null lang, a null user, null geo,
    repeated texts and characters the collector must sanitize."""
    if texts and rng.random() < 0.1:
        text = texts[int(rng.integers(0, len(texts)))]
    else:
        words = list(rng.choice(FR_WORDS, int(rng.integers(4, 16))))
        if rng.random() < 0.7:
            words.insert(int(rng.integers(0, len(words) + 1)),
                         str(rng.choice(HASHTAGS)))
        if rng.random() < 0.3:
            words.insert(int(rng.integers(0, len(words) + 1)),
                         str(rng.choice(DIRTY)))
        text = " ".join(words)
        texts.append(text)
    lang = LANGS[int(rng.choice(4, p=[0.55, 0.15, 0.2, 0.1]))]
    user = None if rng.random() < 0.05 else {"lang": lang}
    geo = None if rng.random() < 0.4 else {
        "latitude": round(float(rng.uniform(41, 51)), 4),
        "longitude": round(float(rng.uniform(-5, 9)), 4)}
    ts = TWEET_EPOCH + datetime.timedelta(seconds=seq)
    return json.dumps({"text": text, "user": user, "geo": geo,
                       "created_at": ts.strftime("%Y-%m-%dT%H:%M:%S.000Z")},
                      ensure_ascii=False)


def tweet_files(seed, n_files, per_file, first_seq=0):
    """`n_files` JSON-lines file bodies (bytes) of `per_file` statuses each,
    sequence numbers counting up from `first_seq`."""
    rng = np.random.default_rng([seed, first_seq])
    texts = []
    out = []
    for f in range(n_files):
        base = first_seq + f * per_file
        out.append("".join(tweet_status(rng, base + i, texts) + "\n"
                           for i in range(per_file)).encode())
    return out


def vector_lines(ids, vecs):
    """JSON-lines body of (vec_id, embedding) rows."""
    return "".join(json.dumps({"vec_id": int(i),
                               "embedding": [float(x) for x in v]}) + "\n"
                   for i, v in zip(ids, vecs)).encode()


def vector_sets(seed, n_corpus, n_ingest, n_probe, n_recall, n_capacity,
                n_warmup, dim=64, clusters=8):
    """The index lifecycle inputs as (ids, vectors) pairs: the corpus (ids from
    0), the open-loop ingest stream (ids from 10**9), the probe stream
    (2 * 10**9), the quiescent recall probes (3 * 10**9), the capacity
    backlog (4 * 10**9) and the pre-roll (5 * 10**9). The capacity backlog
    comes from a second geometry of as many clusters, so the ingest loop's
    drift monitor fires one retrain while folding it, after which an index
    of 16 cells fits both geometries; everything else follows the corpus
    geometry."""
    rng = np.random.default_rng(seed)
    home = unit_centers(rng, clusters, dim)
    away = unit_centers(rng, clusters, dim)

    def draw(base, n, centers=home):
        return (np.arange(base, base + n, dtype=np.int64),
                clustered_unit_vectors(rng, n, centers)[0])

    return {"corpus": draw(0, n_corpus),
            "ingest": draw(10**9, n_ingest),
            "probe": draw(2 * 10**9, n_probe),
            "recall": draw(3 * 10**9, n_recall),
            "capacity": draw(4 * 10**9, n_capacity, away),
            "warmup": draw(5 * 10**9, n_warmup)}
