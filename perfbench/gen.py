"""Seeded input generator for the benchmark workloads.

Everything the engine sees is written here, from the seed alone, before
the timed region starts: the same seed (and run length) gives
byte-identical parquet files and the same request stream. Each workload's inputs are
summarised by `describe`, whose checksum lets two runs show that they
measured identical inputs.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 cardinalities of the harness star schema.
N_PART = 20_000
N_SUPP = 1_000
N_CUST = 15_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
DIM = 64

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
WORDS = ("a the spark batch part line column order small sort fast value scan "
         "hash slow group agg filter query big key window stream table join "
         "data vector customer index merge plan shuffle task stage job cache "
         "node disk page row").split()
LANGS = ["en", "es", "zh", "de", "fr"]

STREAM_BATCH_DOCS = 400
STREAM_BATCH_VECS = 400
# copies of the base corpus the stream is cut from
STREAM_COPIES = 4


def _rng(seed, salt):
    return np.random.default_rng([seed, salt])


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def star_schema(seed, out):
    """region/nation/customer/supplier/part/orders/lineitem at sf0.1."""
    r = _rng(seed, 1)
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")
    ck = np.arange(N_CUST, dtype=np.int64)
    _write(pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(r.integers(0, 25, N_CUST), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999, 9999, N_CUST), 2),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, N_CUST)]}),
        f"{out}/customer.parquet")
    sk = np.arange(N_SUPP, dtype=np.int64)
    _write(pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(r.integers(0, 25, N_SUPP), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999, 9999, N_SUPP), 2)}),
        f"{out}/supplier.parquet")
    pk = np.arange(N_PART, dtype=np.int64)
    w = np.array(WORDS)
    _write(pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(w[r.integers(0, len(WORDS), N_PART)], " "),
                              w[r.integers(0, len(WORDS), N_PART)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, N_PART).astype(str)),
        "p_type": np.array(P_TYPES)[r.integers(0, len(P_TYPES), N_PART)],
        "p_size": pa.array(r.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 2000) / 10.0, 2)}),
        f"{out}/part.parquet")
    ok = np.arange(N_ORDERS, dtype=np.int64)
    day = np.datetime64("1992-01-01") + r.integers(0, 3650, N_ORDERS)
    _write(pa.table({
        "o_orderkey": ok,
        "o_custkey": r.integers(0, N_CUST, N_ORDERS),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(r.uniform(1000, 400000, N_ORDERS), 2),
        "o_orderdate": pa.array(day.astype("datetime64[us]")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[r.integers(0, 5, N_ORDERS)]}),
        f"{out}/orders.parquet")
    qty = r.integers(1, 51, N_LINEITEM).astype(np.float64)
    ship = np.datetime64("1992-01-01") + r.integers(0, 3650, N_LINEITEM)
    _write(pa.table({
        "l_orderkey": r.integers(0, N_ORDERS, N_LINEITEM),
        "l_partkey": r.integers(0, N_PART, N_LINEITEM),
        "l_suppkey": r.integers(0, N_SUPP, N_LINEITEM),
        "l_linenumber": pa.array(r.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, N_LINEITEM), 2),
        "l_discount": np.round(r.integers(0, 11, N_LINEITEM) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, N_LINEITEM) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, N_LINEITEM)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, N_LINEITEM)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]"))}),
        f"{out}/lineitem.parquet")


def base_texts(r, n):
    lens = r.integers(12, 90, n)
    return [" ".join(np.array(WORDS)[r.integers(0, len(WORDS), k)]) for k in lens]


def perturb(r, text, rate):
    """Replace about `rate` of the tokens; rate 0 gives an exact clone."""
    toks = text.split(" ")
    if rate <= 0:
        return text
    hit = r.random(len(toks)) < rate
    for i in np.nonzero(hit)[0]:
        toks[i] = WORDS[r.integers(0, len(WORDS))]
    return " ".join(toks)


def docs_table(ids, texts, r):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[r.integers(0, len(LANGS), len(ids))],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def base_vectors(r, n):
    centers = r.normal(0, 0.15, (10, DIM))
    labels = r.integers(0, 10, n)
    return (centers[labels] + r.normal(0, 0.1, (n, DIM))).astype(np.float32), labels


def emb_table(ids, vecs, labels):
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def replica_corpus(seed, n_docs, n_vecs, replicas):
    """`replicas` copies of a seeded base corpus: copy 0 is the base,
    later copies offset the ids by the base size and perturb tokens
    (a fifth of them are exact clones) or add small vector noise, so
    near-duplicates exist across copies."""
    r = _rng(seed, 2)
    texts0 = base_texts(r, n_docs)
    vecs0, labels0 = base_vectors(r, n_vecs)
    ids, texts, vids, vecs, labels = [], [], [], [], []
    for c in range(replicas):
        for i, t in enumerate(texts0):
            ids.append(c * n_docs + i)
            rate = 0.0 if c == 0 or r.random() < 0.2 else 0.04
            texts.append(perturb(r, t, rate))
        noise = 0 if c == 0 else 0.004
        vids.extend(range(c * n_vecs, (c + 1) * n_vecs))
        vecs.append(vecs0 + r.normal(0, noise, vecs0.shape).astype(np.float32) if noise else vecs0)
        labels.append(labels0)
    return ids, texts, vids, np.concatenate(vecs), np.concatenate(labels), r


# Request kinds of kg_lookup and their weights: the number of call sites
# in the reference (brettin/Database-Scan) that issue that lookup, as
# SURVEY.md section 2.3 lists them. A call site in the reference's own
# client library (opentargets_client_api.py) is sent through ClientApi
# where the benchmark has a ClientApi request for it, any other as a
# GraphQL query.
KG_KINDS = (
    ("disease_assoc_targets", 3),   # J1 x2, J8 x1
    ("disease_known_drugs", 3),     # J3
    ("drug_targets", 3),            # J5 x2 (x2.py, x2.3.py), J9 x1
    ("client_drug_targets", 2),     # J5 in opentargets_client_api.py x2
    ("target_assoc_diseases", 2),   # J2
    ("star_join", 2),               # J10, J11: client-side merges
    ("target_known_drugs", 1),      # J4
    ("target_pathways", 1),         # J6 pathways_query.py
    ("client_target_pathways", 1),  # J6 opentargets_client_api.py
    ("drug_mechanisms", 1),         # J7
    ("batch_targets", 1),           # S4: declared, no reference call site
)


def kind_schedule(kinds):
    """One cycle of request kinds, each `weight` times, spread evenly
    (smooth weighted round robin), so every whole cycle has the mix."""
    total = sum(w for _, w in kinds)
    credit = [0] * len(kinds)
    out = []
    for _ in range(total):
        credit = [c + w for c, (_, w) in zip(credit, kinds)]
        best = max(range(len(kinds)), key=lambda i: credit[i])
        credit[best] -= total
        out.append(kinds[best][0])
    return out


def zipf_draw(r, n_items, size, s=1.1):
    """Zipf-like ranks over `n_items`, mapped through a seeded permutation.
    The reference has no request log to fit `s` to; 1.1 is an assumption."""
    w = 1.0 / np.arange(1, n_items + 1) ** s
    perm = r.permutation(n_items)
    return perm[r.choice(n_items, size=size, p=w / w.sum())]


def kg_requests(seed, n=4000):
    r = _rng(seed, 3)
    cycle = kind_schedule(KG_KINDS)
    tgt = zipf_draw(r, N_PART, n)
    drg = zipf_draw(r, N_SUPP, n)
    out = []
    for i in range(n):
        kind = cycle[i % len(cycle)]
        if kind in ("target_pathways", "client_target_pathways", "target_assoc_diseases",
                    "target_known_drugs"):
            req = {"kind": kind, "id": f"TGT_{tgt[i]}"}
        elif kind in ("drug_mechanisms", "drug_targets", "client_drug_targets"):
            req = {"kind": kind, "id": f"DRG_{drg[i]}"}
        elif kind == "star_join":
            req = {"kind": kind, "id": f"Brand#{int(r.integers(1, 26))}"}
        elif kind == "batch_targets":
            m = int(r.integers(2, 6))
            ids = [f"TGT_{x}" for x in zipf_draw(r, N_PART, m)]
            if r.random() < 0.3:
                ids.append(f"TGT_{N_PART + int(r.integers(0, 1000))}")  # absent id
            req = {"kind": kind, "ids": ids}
        else:
            req = {"kind": kind, "id": f"DIS_{SEGMENTS[int(r.integers(0, 5))]}",
                   "page": int(r.integers(0, 40))}
        out.append(req)
    return out


def kg_lookup(seed, out):
    star_schema(seed, f"{out}/data")
    reqs = kg_requests(seed)
    with open(f"{out}/cycle", "w") as f:
        f.write(f"{sum(w for _, w in KG_KINDS)}\n")
    with open(f"{out}/requests.json", "w") as f:
        json.dump(reqs, f)
    with open(f"{out}/requests.tsv", "w") as f:
        for q in reqs:
            f.write(f"{q['kind']}\t{q.get('id', '')}\t{q.get('page', 0)}\t{','.join(q.get('ids', []))}\n")


def stream_batches(seconds):
    """Batches generated for a run: one per second of run length, and
    at least 8: about 2.5 times what a run ingested when the benchmark
    was added (README.md)."""
    return max(8, seconds)


def stream_ingest(seed, out, seconds):
    """Batch files (documents + embeddings), one pair per trigger, plus
    the whole vector corpus the planning pass freezes the SQ8 scales
    over. The batches are cut from STREAM_COPIES shuffled copies of a
    base corpus, so near-duplicate documents and vectors span batches."""
    n = stream_batches(seconds)
    ids, texts, vids, vecs, labels, r = replica_corpus(
        seed, n * STREAM_BATCH_DOCS // STREAM_COPIES, n * STREAM_BATCH_VECS // STREAM_COPIES,
        STREAM_COPIES)
    # shuffle the copies so every batch mixes new and repeated content
    order = r.permutation(len(ids))
    ids = [ids[i] for i in order]
    texts = [texts[i] for i in order]
    vorder = r.permutation(len(vids))
    vids, vecs, labels = [vids[i] for i in vorder], vecs[vorder], labels[vorder]
    _write(emb_table(vids, vecs, labels), f"{out}/planning/embeddings.parquet")
    for b in range(n):
        s = slice(b * STREAM_BATCH_DOCS, (b + 1) * STREAM_BATCH_DOCS)
        _write(docs_table(ids[s], texts[s], r), f"{out}/batches/docs/part-{b:05d}.parquet")
        vs = slice(b * STREAM_BATCH_VECS, (b + 1) * STREAM_BATCH_VECS)
        _write(emb_table(vids[vs], vecs[vs], labels[vs]),
               f"{out}/batches/emb/part-{b:05d}.parquet")


def describe(out):
    """Total bytes, file count and a sha256 over every generated file."""
    h = hashlib.sha256()
    total = files = 0
    for root, _, names in sorted(os.walk(out)):
        for n in sorted(names):
            p = os.path.join(root, n)
            rel = os.path.relpath(p, out)
            with open(p, "rb") as f:
                data = f.read()
            h.update(rel.encode())
            h.update(hashlib.sha256(data).digest())
            total += len(data)
            files += 1
    return {"bytes": total, "files": files, "sha256": h.hexdigest()[:16]}


def generate(workload, seed, out, seconds):
    if workload == "stream_ingest":
        stream_ingest(seed, out, seconds)
    else:
        kg_lookup(seed, out)
    return describe(out)
