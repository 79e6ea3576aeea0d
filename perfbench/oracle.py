"""Engine-independent answer checks.

Every op the benchmark timed is checked here, against DuckDB over the same
generated parquet or against numpy/Python recomputation of the same
definition. An op whose answer does not match counts as failed. Where
an operator is approximate by design (MinHash banding) the check pins
what the operator guarantees: every reported pair verified, and recall
above a floor on pairs that are near duplicates by construction.
"""
import collections
import json
import os
import re

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen

FLOAT_TOL = 1e-6


# ------------------------------------------------------------------ helpers

def norm_text(t):
    return re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", t.lower())).strip()


def shingles(text, n=3):
    toks = norm_text(text).split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a, b):
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def same(a, b):
    """Structural equality with a float tolerance."""
    if isinstance(a, float) or isinstance(b, float):
        return isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and abs(a - b) <= FLOAT_TOL * max(1.0, abs(a), abs(b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def canon(rows):
    return sorted(json.dumps(r, sort_keys=True) for r in rows)


def sq8_codes(vecs, scales):
    x = vecs.astype(np.float64) * 127.0
    q = np.divide(x, scales, out=np.zeros_like(x), where=scales > 0)
    return (np.sign(q) * np.floor(np.abs(q) + 0.5)).astype(np.int64)


def sq8_topk(ids, codes, query, k):
    """(id, score) of the k best by exact int dot, score desc then id asc."""
    qi = np.nonzero(ids == query)[0][0]
    scores = codes @ codes[qi]
    keep = ids != query
    order = np.lexsort((ids[keep], -scores[keep]))[:k]
    return [[int(ids[keep][i]), int(scores[keep][i])] for i in order]


def read_vectors(path):
    t = pq.read_table(path)
    return (np.array(t.column("vec_id").to_pylist(), dtype=np.int64),
            np.array(t.column("embedding").to_pylist(), dtype=np.float32))


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes = []

    def op(self, ok, what):
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"FAIL {what}")


def star_join(con, where, params):
    """Revenue per (brand, priority) over lineitem x orders x part, top 10."""
    return [list(r) for r in con.execute(f"""
        SELECT p_brand, o_orderpriority, round(sum(l_extendedprice), 2) AS revenue,
               count(*) AS n
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        JOIN part ON p_partkey = l_partkey
        WHERE {where} GROUP BY ALL
        ORDER BY revenue DESC, p_brand, o_orderpriority LIMIT 10""", params).fetchall()]


# ---------------------------------------------------------------- kg_lookup

def kg_expected(con, req):
    kind = req["kind"]
    if kind == "star_join":
        return star_join(con, "p_brand = ?", [req["id"]])
    if kind in ("target_pathways", "client_target_pathways"):
        key = int(req["id"].split("_")[1])
        rows = con.execute("SELECT p_name, p_brand, p_type FROM part WHERE p_partkey = ?",
                           [key]).fetchall()
        if kind == "target_pathways":
            return [{"id": req["id"], "approvedSymbol": n,
                     "pathways": [{"pathway": {"id": f"PWY_{b}", "name": b}}]}
                    for n, b, _ in rows]
        return [{"pathwayId": f"PWY_{b}", "pathway": b, "topLevelTerm": t,
                 "target_id": req["id"]} for _, b, t in rows]
    if kind in ("drug_targets", "drug_mechanisms", "client_drug_targets"):
        key = int(req["id"].split("_")[1])
        name = con.execute("SELECT s_name FROM supplier WHERE s_suppkey = ?", [key]).fetchall()
        if kind == "drug_targets":
            rows = con.execute("""
                WITH lt AS (SELECT l_partkey AS pk, sum(l_quantity) AS q
                            FROM lineitem WHERE l_suppkey = ? GROUP BY 1)
                SELECT row_number() OVER (ORDER BY q DESC, pk) AS rank, 'TGT_' || pk, p_name
                FROM lt JOIN part ON p_partkey = pk ORDER BY rank""", [key]).fetchall()
            return [{"id": req["id"], "name": n, "linkedTargets": {
                "count": len(rows),
                "rows": [{"rank": r, "target": {"id": t, "approvedSymbol": s}}
                         for r, t, s in rows]}} for (n,) in name]
        if kind == "client_drug_targets":
            rows = con.execute("SELECT DISTINCT 'TGT_' || l_partkey FROM lineitem "
                               "WHERE l_suppkey = ?", [key]).fetchall()
            return [{"id": t, "drug_id": req["id"]} for (t,) in rows]
        rows = con.execute("""
            SELECT DISTINCT p_brand, 'TGT_' || l_partkey AS t, p_name
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE l_suppkey = ?""", [key]).fetchall()
        mech = collections.defaultdict(list)
        for b, t, s in rows:
            mech[b].append({"id": t, "approvedSymbol": s})
        return [{"id": req["id"], "name": n, "mechanismsOfAction": {"rows": [
            {"targets": sorted(mech[b], key=lambda x: x["id"]), "mechanismOfAction": b}
            for b in sorted(mech)]}} for (n,) in name]
    if kind == "batch_targets":
        keys = [int(i.split("_")[1]) for i in req["ids"]]
        rows = con.execute(f"SELECT 'TGT_' || p_partkey AS id, p_name FROM part "
                           f"WHERE p_partkey IN ({','.join(map(str, keys))})").fetchall()
        return [{"targets": [{"id": i, "approvedSymbol": n} for i, n in sorted(rows)]}]
    if kind == "target_assoc_diseases":
        key = int(req["id"].split("_")[1])
        total, = con.execute("SELECT count(*) FROM assoc WHERE p = ?", [key]).fetchone()
        rows = con.execute("""
            SELECT score, 'DIS_' || m, m FROM assoc WHERE p = ?
            ORDER BY score DESC, 'DIS_' || m LIMIT 10""", [key]).fetchall()
        return [{"id": req["id"], "associatedDiseases": {"count": total, "rows": [
            {"score": s, "disease": {"id": d, "name": n}} for s, d, n in rows]}}]
    if kind == "target_known_drugs":
        key = int(req["id"].split("_")[1])
        kd = """WITH kd AS (SELECT 'DRG_' || l_suppkey AS drug_id, 'DIS_' || c_mktsegment AS dis_id,
                              round(least(4.0, count(*) / 10.0), 1) AS phase, l_suppkey
                            FROM facts WHERE l_partkey = ? GROUP BY ALL)"""
        total, = con.execute(kd + " SELECT count(*) FROM kd", [key]).fetchone()
        rows = con.execute(kd + """
            SELECT phase, drug_id, s_name, dis_id FROM kd JOIN supplier ON s_suppkey = l_suppkey
            ORDER BY drug_id, dis_id LIMIT 10""", [key]).fetchall()
        return [{"id": req["id"], "knownDrugs": {"count": total, "rows": [
            {"phase": p, "drug": {"id": d, "name": n}, "disease": {"id": s}}
            for p, d, n, s in rows]}}]
    seg = req["id"][4:]
    lo = req["page"] * 10
    if kind == "disease_known_drugs":
        total, = con.execute("""
            SELECT count(*) FROM (SELECT DISTINCT l_suppkey, l_partkey FROM facts
            WHERE c_mktsegment = ?)""", [seg]).fetchone()
        rows = con.execute("""
            WITH kd AS (SELECT 'DRG_' || l_suppkey AS drug_id, 'TGT_' || l_partkey AS tgt_id,
                          round(least(4.0, count(*) / 10.0), 1) AS phase, l_suppkey
                        FROM facts WHERE c_mktsegment = ? GROUP BY ALL)
            SELECT phase, drug_id, s_name FROM kd JOIN supplier ON s_suppkey = l_suppkey
            ORDER BY drug_id, tgt_id LIMIT 10 OFFSET ?""", [seg, lo]).fetchall()
        return [{"id": req["id"], "name": seg, "knownDrugs": {"count": total, "rows": [
            {"phase": p, "drug": {"id": d, "name": n}} for p, d, n in rows]}}]
    total, = con.execute("SELECT count(*) FROM assoc WHERE m = ?", [seg]).fetchone()
    rows = con.execute("""
        SELECT score, 'TGT_' || p, p_name FROM assoc JOIN part ON p_partkey = p
        WHERE m = ? ORDER BY score DESC, 'TGT_' || p LIMIT 10 OFFSET ?""",
                       [seg, lo]).fetchall()
    return [{"id": req["id"], "associatedTargets": {"count": total, "rows": [
        {"score": s, "target": {"id": t, "approvedSymbol": n}} for s, t, n in rows]}}]


UNORDERED = {"client_drug_targets", "client_target_pathways"}


def check_kg(in_dir, answers, tally):
    with open(f"{in_dir}/requests.json") as f:
        reqs = json.load(f)
    con = duckdb.connect()
    for t in ("part", "supplier", "lineitem", "orders", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{in_dir}/data/{t}.parquet'")
    con.execute("""CREATE TABLE facts AS SELECT l_partkey, l_suppkey, l_quantity, c_mktsegment
                   FROM lineitem JOIN orders ON o_orderkey = l_orderkey
                   JOIN customer ON c_custkey = o_custkey""")
    con.execute("""CREATE TABLE assoc AS
                   WITH pair AS (SELECT c_mktsegment AS m, l_partkey AS p, sum(l_quantity) AS q
                                 FROM facts GROUP BY 1, 2)
                   SELECT m, p, round(q / sum(q) OVER (PARTITION BY p), 6) AS score FROM pair""")
    memo = {}
    for a in answers:
        req = reqs[a["i"]]
        key = json.dumps(req, sort_keys=True)
        if "error" in a:
            tally.op(False, f"{req}: {a['error'][:200]}")
            continue
        if key not in memo:
            memo[key] = kg_expected(con, req)
        want, got = memo[key], a["rows"]
        if req["kind"] in UNORDERED:
            ok = canon(want) == canon(got)
        else:
            ok = same(want, got)
        tally.op(ok, f"{req}: got {json.dumps(got)[:300]} want {json.dumps(want)[:300]}")


# ------------------------------------------------------------ stream_ingest

def check_pairs(pairs, shingle_sets, threshold, what):
    """Every reported pair is a verified near-duplicate."""
    bad = [p for p in pairs
           if p[0] == p[1] or p[0] not in shingle_sets or p[1] not in shingle_sets
           or jaccard(shingle_sets[p[0]], shingle_sets[p[1]]) < threshold - 0.02]
    return not bad, f"{what}: {len(bad)} unverified pairs, e.g. {bad[:3]}"


def recall(found, groups, shingle_sets, floor_j):
    """Share of same-origin pairs with Jaccard >= floor_j that were found."""
    want = [(a, b) for g in groups for i, a in enumerate(g) for b in g[i + 1:]
            if jaccard(shingle_sets[a], shingle_sets[b]) >= floor_j]
    hit = sum(1 for p in want if p in found)
    return (hit / len(want) if want else 1.0), len(want)


def check_stream(in_dir, answers, tally):
    names = sorted(os.listdir(f"{in_dir}/batches/docs"))
    _, plan_vecs = read_vectors(f"{in_dir}/planning/embeddings.parquet")
    scales = np.abs(plan_vecs.astype(np.float64)).max(axis=0)
    batch_ids, batch_vecs, batch_docs = [], [], []
    for n in names:
        i, v = read_vectors(f"{in_dir}/batches/emb/{n}")
        batch_ids.append(i)
        batch_vecs.append(v)
        d = pq.read_table(f"{in_dir}/batches/docs/{n}").to_pydict()
        batch_docs.append(dict(zip(d["doc_id"], d["text"])))
    base = len(names) * gen.STREAM_BATCH_DOCS // gen.STREAM_COPIES
    prefix = {}

    def upto(b):
        if b not in prefix:
            ids = np.concatenate(batch_ids[:b + 1])
            texts = {k: v for d in batch_docs[:b + 1] for k, v in d.items()}
            sh = {k: shingles(t) for k, t in texts.items()}
            groups = collections.defaultdict(list)
            for k in sorted(texts):
                groups[k % base].append(k)
            prefix[b] = (ids, sq8_codes(np.concatenate(batch_vecs[:b + 1]), scales), sh,
                         list(groups.values()))
        return prefix[b]

    last_pairs = set()
    for a in answers:
        b, kind = a["batch"], a["kind"]
        what = f"batch {b} {kind}"
        if "error" in a:
            tally.op(False, f"{what}: {a['error'][:300]}")
            continue
        ids, codes, sh, groups = upto(b)
        rows = a["rows"]
        if kind == "sq8_topk_indexed":
            want = sq8_topk(ids, codes, a["query"], 10)
            tally.op(canon(rows) == canon(want), f"{what} q={a['query']}: {rows[:3]} vs {want[:3]}")
        elif kind == "code_count":
            tally.op(rows == [[len(ids)]], f"{what}: {rows} rows vs {len(ids)} committed")
        elif kind == "pair_read":
            pairs = {(x, y) for x, y in rows}
            ok, note = check_pairs(pairs, sh, 0.6, what)
            rec, n = recall(pairs, groups, sh, 0.9)
            grew = last_pairs <= pairs
            last_pairs = pairs
            tally.op(ok and rec >= 0.99 and grew and len(pairs) == len(rows),
                     f"{note}; recall {rec:.4f} of {n}; superset of previous read: {grew}")
        else:
            tally.op(False, f"{what}: unknown op")


def check(workload, in_dir, result, answers):
    tally = Tally()
    if workload == "kg_lookup":
        check_kg(in_dir, answers, tally)
    else:
        check_stream(in_dir, answers, tally)
        for t in result.get("triggers", []):
            tally.op(t["ok"], f"trigger {t['kind']} batch {t['batch']}: {t.get('error')}")
    return tally.attempted, tally.failed, tally.notes
