"""Seeded input generator for the graft benchmark.

Every input the engine sees in a run comes from here: the bulk CSV, the
curation corpus, the search corpus and vectors, the query stream and the
ingest batches. The same (workload, seed, params) always gives the same
files. Alongside the inputs it writes ``expect.json``, the counts the
benchmark checks the engine's outputs against.

Usage: python3 gen.py <workload> <seed> <out_dir>
"""

import bisect
import json
import os
import random
import re
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# ImporterSpec's fixture list: name -> (rows, has a geometry column, the
# payload type the importer reports). The row counts are its goldens; where
# the spec asserts only a bound (> 0, or walmart's georeferenced rows) the
# count is the file's own row count.
FIXTURES = {
    "110m-glaciated-areas.zip": (11, True, "shp"),
    "CartoDB_csv_export.zip": (155, True, "csv"),
    "CartoDB_csv_multipoly_export.zip": (601, True, "csv"),
    "CartoDB_shp_export.zip": (155, True, "shp"),
    "EjemploVizzuality.zip": (11, True, "shp"),
    "Food Security Aid Map_projects.csv": (827, False, "csv"),
    "TM_WORLD_BORDERS_SIMPL-0.3.zip": (246, True, "shp"),
    "clubbing.csv": (1998, False, "csv"),
    "estaciones2.csv": (30, False, "csv"),
    "ngos.xlsx": (76, False, "xlsx"),
    "pino.zip": (4, False, "csv"),
    "reserved_columns.csv": (7, False, "csv"),
    "rmnp.kml": (1, True, "kml"),
    "rmnp.kmz": (1, True, "kml"),
    "rmnp.zip": (1, True, "kml"),
    "route2.gpx": (None, True, "gpx"),
    "simon-search-spain-1297870422647.zip": (None, True, "shp"),
    "simple.json": (11, True, "geojson"),
    "states.kml.zip": (None, True, "kml"),
    "twitters.csv": (7, False, "csv"),
    "walmart_latlon.csv": (3176, True, "csv"),
    "world_heritage_list.csv": (937, True, "csv"),
}

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"]
SYLLABLES = ["ka", "lo", "mi", "ren", "tas", "vo", "qui", "dor", "pe", "sa",
             "zu", "bri", "on", "el", "mar", "tu", "gen", "fa", "li", "nox",
             "ve", "ra", "co", "shi", "bel", "um", "ter", "ax", "do", "wy"]
BOILERPLATE = [
    "all rights reserved for the site and its partners",
    "click here to subscribe to the weekly newsletter",
    "this page uses cookies to improve the experience",
    "share this story on the usual social networks",
    "read more articles in the archive of the section",
    "terms of use and privacy policy apply to this site",
    "sign in to comment on this article and the others",
    "advertisement continue reading the main story below",
]


class Zipf:
    """Draws indexes 0..n-1 with P(i) proportional to 1/(i+1)^s."""

    def __init__(self, n, s):
        acc, self.cum = 0.0, []
        for i in range(n):
            acc += 1.0 / (i + 1) ** s
            self.cum.append(acc)

    def draw(self, rng):
        return bisect.bisect_left(self.cum, rng.random() * self.cum[-1])


def vocabulary(n):
    """The same n words for every seed: seeds vary what is drawn, not the
    language it is drawn from, so the work per run stays alike."""
    rng = random.Random("graft-vocabulary")
    words, seen = list(STOPWORDS), set(STOPWORDS)
    while len(words) < n:
        w = "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def sentence(rng, words, zipf, lo, hi):
    return " ".join(words[zipf.draw(rng)] for _ in range(rng.randint(lo, hi)))


def write_jsonl(path, rows):
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")) + "\n")


# ---------------------------------------------------------------- import

def gen_import(rng, p, out, fixtures_dir):
    fx_out = os.path.join(out, "fixtures")
    os.makedirs(fx_out)
    for name in FIXTURES:
        shutil.copyfile(os.path.join(fixtures_dir, name), os.path.join(fx_out, name))
    states = ["AR", "TX", "OK", "MO", "KS", "LA", "TN", "MS"]
    kinds = ["Supercenter", "Wal-Mart", "Neighborhood Market"]
    header = ["storenum", "opendate", "date_super", "conversion", "st",
              "county", "streetaddr", "strcity", "strstate", "zipcode",
              "type_store", "", "latitude", "longitude"]
    rows, georef = 0, 0
    with open(os.path.join(out, "bulk.csv"), "w", encoding="utf-8", newline="") as f:
        f.write(",".join(header) + "\n")
        for i in range(1, p["bulk_rows"] + 1):
            lat = rng.uniform(1.0, 60.0) * rng.choice([1, -1])
            lon = rng.uniform(1.0, 170.0) * rng.choice([1, -1])
            lat_s, lon_s = f"{lat:.6f}", f"{lon:.6f}"
            ok = True
            if i % p["bulk_bad_lat_every"] == 0:
                lat_s, ok = f"{rng.uniform(90.5, 99.9):.6f}", False
            if i % p["bulk_bad_lon_every"] == 0:
                lon_s, ok = f"-{rng.uniform(180.5, 199.9):.6f}", False
            if i % p["bulk_blank_lat_every"] == 0:
                lat_s, ok = "", False
            street = f"{rng.randint(1, 9999)} HWY {rng.randint(1, 99)} N"
            if i % p["bulk_multiline_every"] == 0:
                street = f'"{street}\nSUITE {rng.randint(1, 40)}, BLDG {rng.randint(1, 9)}"'
            st = rng.choice(states)
            cells = [str(i), f"Sun Jul 01 00:00:00 -0400 {rng.randint(1962, 2010)}",
                     f"Sat Mar 01 00:00:00 -0500 {rng.randint(1990, 2011)}",
                     str(rng.randint(0, 1)), f"{rng.randint(1, 56):02d}",
                     f"{rng.randint(1, 199):03d}", street,
                     f"Town{rng.randint(1, 500)}", st, f"{rng.randint(10000, 99999)}",
                     rng.choice(kinds), str(rng.randint(0, 9)), lat_s, lon_s]
            f.write(",".join(cells) + "\n")
            rows += 1
            georef += ok
    return {"fixtures": {n: {"rows": r, "geometry": g, "type": t}
                         for n, (r, g, t) in FIXTURES.items()},
            "bulk_rows": rows, "bulk_georef_rows": georef}


# ---------------------------------------------------------------- curate

def gen_curate(rng, p, out):
    words = vocabulary(p["vocab"])
    zipf = Zipf(len(words), p["zipf_s"])
    n = p["docs"]
    # exact role counts, shuffled: every seed plants the same amount of
    # each case, so runs of different seeds do the same work
    counts = {r: round(p[f"{r}_frac"] * n) for r in ("exact_dup", "near_dup", "short_doc")}
    roles = [r for r, c in counts.items() for _ in range(c)]
    roles += ["normal"] * (n - len(roles))
    rng.shuffle(roles)
    first = roles.index("normal")
    roles[0], roles[first] = roles[first], roles[0]
    n_normal = roles.count("normal")
    boiler = [True] * round(p["boilerplate_frac"] * n_normal)
    boiler += [False] * (n_normal - len(boiler))
    rng.shuffle(boiler)
    docs, family = [], {}
    for i, role in enumerate(roles):
        fam = i
        if role == "exact_dup":
            src = rng.choice(docs)
            text, fam = src["text"], family[src["doc_id"]]
        elif role == "near_dup":
            src = rng.choice(docs)
            toks = src["text"].split(" ")
            for _ in range(max(1, len(toks) // 40)):
                j = rng.randrange(len(toks))
                if "\n" not in toks[j]:
                    toks[j] = words[zipf.draw(rng)]
            text, fam = " ".join(toks), family[src["doc_id"]]
        elif role == "short_doc":
            # too short for the quality gate; uniform words, so short docs
            # do not all look alike to minhash
            text = " ".join(rng.choice(words) for _ in range(rng.randint(2, 6)))
        else:
            lines = [sentence(rng, words, zipf, 10, 24) for _ in range(rng.randint(3, 6))]
            if boiler.pop():
                lines.insert(rng.randint(0, len(lines)), rng.choice(BOILERPLATE))
                lines.append(rng.choice(BOILERPLATE))
            text = "\n".join(lines)
        doc = {"doc_id": i + 1, "text": text, "lang": "en" if i % 2 == 0 else "xx"}
        docs.append(doc)
        family[doc["doc_id"]] = fam
    write_jsonl(os.path.join(out, "corpus.jsonl"), docs)
    write_jsonl(os.path.join(out, "families.jsonl"),
                [{"doc_id": d, "family": f} for d, f in family.items()])
    return {"docs": n, "distinct_texts": len({d["text"] for d in docs})}


# ---------------------------------------------------------------- search

def search_docs(rng, words, zipf, p, start, n):
    out = []
    for i in range(start, start + n):
        text = sentence(rng, words, zipf, p["doc_tokens_min"], p["doc_tokens_max"])
        out.append({"doc_id": i, "text": text, "n_chars": len(text),
                    "lang": "en" if i % 2 == 0 else "xx"})
    return out


def gen_vectors(rng, p):
    """Unit vectors with no cluster structure, as in the sf0.1 embeddings."""
    vecs = []
    for i in range(p["vectors"]):
        v = [rng.gauss(0, 1) for _ in range(p["vector_dim"])]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append({"vec_id": i, "embedding": [round(x / norm, 6) for x in v]})
    return vecs


def feature_hash(text, dim):
    """HashFunctions.featureHash: one signed count per token in dim buckets."""
    out = [0] * dim
    for tok in re.findall(r"[a-z0-9]+", text.lower()):
        h = 0
        for c in tok[:16]:
            h = (h * 131 + ord(c)) % 1000000007
        out[h % dim] += 1 if (h // dim) % 2 == 0 else -1
    return out


def cancelling_pair(words, dim):
    """Two words whose signed feature hashes cancel: a query of both hashes to zeros."""
    seen = {}
    for w in sorted(words):
        h = feature_hash(w, dim)
        j = next(i for i, v in enumerate(h) if v)
        if (j, -h[j]) in seen:
            return f"{seen[(j, -h[j])]} {w}"
        seen.setdefault((j, h[j]), w)
    raise ValueError("no two words cancel")


def query_stream(rng, words, zipf, present, n_vec, blocks):
    # Query terms follow the vocabulary's Zipf law, skip stopwords (they
    # match nearly every doc) and are redrawn until they occur in the
    # corpus: a term no doc holds short-cuts most serves, and whether a
    # seed's few queries hit such terms swung a run's mean serve time 15%.
    def term():
        while True:
            w = words[zipf.draw(rng)]
            if w not in STOPWORDS and w in present:
                return w

    def terms(lo, hi):
        return " ".join(term() for _ in range(rng.randint(lo, hi)))

    types = ["term", "query_string", "prefix", "agg_mad", "agg_percentiles",
             "agg_sigterms", "hybrid", "ann_hnsw"]
    out = []
    for _ in range(blocks):
        block = types[:]
        rng.shuffle(block)
        for t in block:
            if t == "query_string":
                # The engine rejects a term both scored and prohibited
                # (`+a -a` matches nothing), so the prohibited term is
                # redrawn until it differs from the scored ones.
                must, should, pre = term(), term(), term()[:3]
                neg = term()
                while neg in (must, should):
                    neg = term()
                q = f"+{must} {should} {pre}* -{neg}"
            elif t == "prefix":
                q = term()[:3]
            elif t == "ann_hnsw":
                q = str(rng.randrange(n_vec))
            elif t == "hybrid":
                # Two terms whose signed hashes cancel give a zero query
                # vector, which pqTopKReranked divides by (a known engine
                # defect, probed once per run), so such a draw is redrawn.
                q = terms(1, 3)
                while not any(feature_hash(q, 64)):
                    q = terms(1, 3)
            else:
                q = terms(1, 3)
            out.append({"type": t, "q": q})
    return out


def gen_search(rng, p, out, ingest):
    words = vocabulary(p["vocab"])
    zipf = Zipf(len(words), p["zipf_s"])
    base = search_docs(rng, words, zipf, p, 1, p["docs"])
    write_jsonl(os.path.join(out, "docs.jsonl"), base)
    write_jsonl(os.path.join(out, "vectors.jsonl"), gen_vectors(rng, p))
    present = {w for d in base for w in d["text"].split(" ")}
    write_jsonl(os.path.join(out, "queries.jsonl"),
                query_stream(rng, words, zipf, present, p["vectors"], 200))
    # the known-defect probe's query (see query_stream)
    expect = {"docs": len(base), "zero_hash_query": cancelling_pair(present, 64)}
    if ingest:
        # Writer plan: appends of fresh ids, deletes of still-live base
        # ids, and a compaction every few appends. More ops than any run
        # can reach, so the writer never runs dry.
        live = [d["doc_id"] for d in base]
        rng.shuffle(live)
        ops, batches, next_id = [], [], p["docs"] + 1
        for b in range(200):
            batch = search_docs(rng, words, zipf, p, next_id, p["batch_docs"])
            next_id += len(batch)
            for d in batch:
                d["batch"] = b
            batches.extend(batch)
            ops.append({"op": "append", "batch": b})
            if (b + 1) % p["delete_every_appends"] == 0 and len(live) > p["delete_ids"]:
                ids = [live.pop() for _ in range(p["delete_ids"])]
                ops.append({"op": "delete", "ids": ids})
            if (b + 1) % p["compact_every_appends"] == 0:
                ops.append({"op": "compact"})
        write_jsonl(os.path.join(out, "batches.jsonl"), batches)
        write_jsonl(os.path.join(out, "writer_ops.jsonl"), ops)
    return expect


def generate(workload, seed, out, params, fixtures_dir):
    rng = random.Random(f"{workload}:{seed}")
    os.makedirs(out, exist_ok=True)
    if workload == "import_export":
        expect = gen_import(rng, params, out, fixtures_dir)
    elif workload == "corpus_curate":
        expect = gen_curate(rng, params, out)
    elif workload in ("search_serve", "search_ingest"):
        expect = gen_search(rng, params, out, workload == "search_ingest")
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(os.path.join(out, "expect.json"), "w") as f:
        json.dump(expect, f)
    return expect


if __name__ == "__main__":
    wl, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    with open(os.path.join(HERE, "workloads.json")) as f:
        params = json.load(f)["workloads"][wl]["params"]
    generate(wl, seed, out, params,
             os.path.join(HERE, "..", "src", "test", "resources", "fixtures"))
