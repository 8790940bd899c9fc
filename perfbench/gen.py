"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (workload, seed): the same seed writes
byte-identical files, a different seed writes different ones. Each writes a
`manifest.json` beside its files with the seed, the counts, the bytes and a
content hash, plus the facts the output checks need (the benchmark's own
model of what the program must produce). The program only ever reads the
generated files; it never sees the seed.
"""

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# etl_ingest: OTX pages of `per_page` items (the reference connector's page
# size). One bulk-load batch, then small poll batches of a few pages each.
ETL = dict(per_page=50, bulk_pages=6, poll_batches=7, poll_pages=2,
           redeliver_share=0.15, update_share=0.15, malformed_share=0.01,
           coalesce_share=0.10)

# corpus_index, corpus half: two cipher replicas (10k docs) of a 5,000-doc
# base corpus fitted to the sf0.1 `documents` table the engine's board reads.
# The figures were measured once on that table (perfbench/README.md,
# "Corpus"): 30 words drawn uniformly, 10-100 tokens per doc (uniform); 250
# docs (5%) are another doc plus the token "dup", 8 (0.16%) are an exact copy
# of another doc; langs 41% en, about 15% each other; sources round-robin.
SF01_WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
              "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
              "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
              "vector", "window")
CORPUS = dict(base_docs=5000, replicas=2, min_tokens=10, max_tokens=100,
              near_dup_docs=250, exact_dup_docs=8, sources=20,
              langs=("en", "zh", "es", "fr", "de"), lang_p=(.412, .151, .149, .148, .140))

# corpus_index, vector half: clustered 64-dim vectors, a probe set drawn from
# them, and per-round append and delete batches. Each round's queries go out
# in `probe_batches` probe calls.
VECTORS = dict(n=10000, dim=64, clusters=64, spread=1.1, queries_per_round=16,
               probe_batches=2, rounds=3, append_per_round=100, delete_per_round=40)

# corpus_index's warm-up input, written to `warm/` beside the real one: the
# same generators at a tenth of the size. Set-up runs one whole pass over it,
# which meets every call of a timed pass at a fraction of the cold cost.
WARM_CORPUS = dict(CORPUS, base_docs=500, near_dup_docs=25, exact_dup_docs=1)
WARM_VECTORS = dict(VECTORS, n=1000, rounds=1)

# calibration control: a lineitem-shaped table at sf0.1 (600,572 rows) with a
# fixed seed, read by plain Spark only.
LINEITEM_ROWS = 600572
LINEITEM_SEED = 20260101

ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _digest(root):
    """sha256 over every file under `root` except the manifest, in path order."""
    h = hashlib.sha256()
    total = 0
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            if name == "manifest.json":
                continue
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                data = f.read()
            total += len(data)
            h.update(data)
    return h.hexdigest(), total


def _write_parquet(table, path):
    # fixed writer settings keep the bytes a function of the data alone
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, row_group_size=1 << 20)


def rows_digest(rows):
    """Order-independent sha256 of an iterable of tuples (sorted text lines)."""
    lines = sorted("\x1f".join("" if v is None else str(v) for v in r) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


# --------------------------------------------------------------------------
# etl_ingest
# --------------------------------------------------------------------------

def _ts(rng):
    return "2024-%02d-%02dT%02d:%02d:%02dZ" % (
        rng.integers(1, 13), rng.integers(1, 29), rng.integers(0, 24),
        rng.integers(0, 60), rng.integers(0, 60))


def _pulse(rng, key, version, coalesce):
    created = _ts(rng)
    info = {"name": "pulse-%d-v%d %s" % (key, version, "".join(
                rng.choice(list(ALPHA), size=int(rng.integers(6, 18))))),
            "created": created,
            "modified": "2025-%02d-%02dT00:00:%02dZ" % (
                1 + version % 12, 1 + key % 28, version % 60)}
    item = {"id": key if coalesce else 7_000_000_000 + key,
            "indicator_count": int(rng.integers(0, 500)),
            "pulse_info": info,
            "tags": ["t%d" % t for t in rng.integers(0, 90, size=int(rng.integers(1, 6)))],
            "description": " ".join(
                "".join(rng.choice(list(ALPHA), size=int(rng.integers(3, 9))))
                for _ in range(int(rng.integers(8, 30))))}
    if not coalesce:
        info["id"] = key
    return item


def gen_etl(seed, out):
    p = ETL
    rng = np.random.default_rng([seed, 1])
    batches = [p["bulk_pages"]] + [p["poll_pages"]] * p["poll_batches"]
    live = {}            # key -> (name, modified, json bytes): last write wins
    versions = {}
    malformed = 0
    valid_per_batch = []
    next_key = 1
    page_no = 0
    for b, n_pages in enumerate(batches):
        bdir = os.path.join(out, "batches", "b%03d" % b)
        os.makedirs(bdir)
        valid = 0
        for _ in range(n_pages):
            items = []
            for _ in range(p["per_page"]):
                r = rng.random()
                if r < p["malformed_share"]:
                    # a payload that is JSON but not an object: fails the parse gate
                    items.append(["truncated{\"id\":", 404, "<html>"][int(rng.integers(0, 3))])
                    malformed += 1
                    continue
                known = list(versions) if b > 0 else []
                if known and r < p["malformed_share"] + p["redeliver_share"]:
                    key = known[int(rng.integers(0, len(known)))]
                    version = versions[key]          # same content, delivered again
                elif known and r < p["malformed_share"] + p["redeliver_share"] + p["update_share"]:
                    key = known[int(rng.integers(0, len(known)))]
                    version = versions[key] + 1      # an update of a known pulse
                else:
                    key, version = next_key, 0
                    next_key += 1
                coalesce = (key * 2654435761 + version) % 1000 < p["coalesce_share"] * 1000
                # re-deliveries reuse the pulse's own content exactly
                item = _pulse(np.random.default_rng([seed, 2, key, version]), key, version, coalesce)
                versions[key] = version
                raw = json.dumps(item, separators=(",", ":"))
                live[key] = (item["pulse_info"]["name"], item["pulse_info"]["modified"], len(raw.encode()))
                items.append(item)
                valid += 1
            with open(os.path.join(bdir, "page-%d.json" % page_no), "w") as f:
                json.dump({"count": len(items), "results": items}, f, separators=(",", ":"))
            page_no += 1
        valid_per_batch.append(valid)
    os.makedirs(os.path.join(out, "model"))
    with open(os.path.join(out, "model", "expected_rows.json"), "w") as f:
        json.dump(sorted([k, v[0], v[1]] for k, v in live.items()), f)
    model = {
        "rows": len(live),
        "digest": rows_digest((k, v[0], v[1]) for k, v in live.items()),
        "live_json_bytes": sum(v[2] for v in live.values()),
        "malformed": malformed,
        "valid_per_batch": valid_per_batch,
    }
    return {"pages": page_no, "items": sum(valid_per_batch) + malformed,
            "batches": len(batches), "model": model}


# --------------------------------------------------------------------------
# corpus_index: documents for the corpus-build chain
# --------------------------------------------------------------------------

def _base_corpus(rng, p):
    words = np.array(SF01_WORDS)
    n = p["base_docs"]
    docs = [" ".join(words[rng.integers(0, len(words), size=int(
        rng.integers(p["min_tokens"], p["max_tokens"] + 1)))]) for _ in range(n)]
    # near-dups and exact copies overwrite distinct docs with another doc's
    # text, in a random order, so a few near-dups chain (as in sf0.1)
    targets = rng.choice(n, size=p["near_dup_docs"] + p["exact_dup_docs"], replace=False)
    for j, i in enumerate(targets):
        src = int(rng.integers(0, n - 1))
        src += src >= i
        docs[i] = docs[src] + " dup" if j < p["near_dup_docs"] else docs[src]
    return docs


def gen_corpus(seed, out, p=CORPUS, stream=()):
    rng = np.random.default_rng([seed, 3, *stream])
    base = _base_corpus(rng, p)
    lang = rng.choice(list(p["langs"]), size=len(base), p=list(p["lang_p"]))
    span = len(base)
    ids, texts, langs, sources, nchars = [], [], [], [], []
    for r in range(p["replicas"]):
        # per-replica letter substitution drawn from the seed: a bijection
        # on letters keeps every within-replica Jaccard value and keeps
        # replicas' token spaces apart
        perm = "".join(np.random.default_rng([seed, 4, r, *stream]).permutation(list(ALPHA)))
        table = str.maketrans(ALPHA, perm)
        for i, t in enumerate(base):
            ct = t.translate(table)
            ids.append(r * span + i)
            texts.append(ct)
            langs.append(str(lang[i]))
            sources.append("src%d" % (i % p["sources"]))
            nchars.append(len(ct))
    table = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string()),
                      "lang": pa.array(langs, pa.string()), "source": pa.array(sources, pa.string()),
                      "n_chars": pa.array(nchars, pa.int64())})
    _write_parquet(table, os.path.join(out, "documents.parquet"))
    return {"docs": len(ids), "text_bytes": sum(nchars)}


# --------------------------------------------------------------------------
# corpus_index: vectors for the IVF index
# --------------------------------------------------------------------------

def _vec_table(ids, vecs):
    flat = pa.array(vecs.astype(np.float32).reshape(-1), pa.float32())
    emb = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(pa.list_(pa.float32()))
    return pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": emb})


def gen_vectors(seed, out, p=VECTORS, stream=()):
    rng = np.random.default_rng([seed, 5, *stream])
    centers = rng.normal(0.0, 1.0, size=(p["clusters"], p["dim"]))

    def draw(n):
        c = rng.integers(0, p["clusters"], size=n)
        return centers[c] + rng.normal(0.0, p["spread"], size=(n, p["dim"]))

    n = p["n"]
    base = draw(n)
    _write_parquet(_vec_table(np.arange(n), base), os.path.join(out, "corpus.parquet"))
    rounds = p["rounds"]
    # probe queries are corpus members (find items like item X), so the
    # operator's self-match exclusion is exercised
    q_ids = rng.choice(n, size=p["queries_per_round"] * rounds, replace=False)
    live = set(range(n))
    next_id = n
    os.makedirs(os.path.join(out, "rounds"))
    appended = deleted = 0
    for r in range(rounds):
        qi = np.sort(q_ids[r * p["queries_per_round"]:(r + 1) * p["queries_per_round"]])
        for b, qb in enumerate(np.array_split(qi, p["probe_batches"])):
            _write_parquet(_vec_table(qb, base[qb]),
                           os.path.join(out, "rounds", "q%02d_%d.parquet" % (r, b)))
        a_ids = np.arange(next_id, next_id + p["append_per_round"])
        next_id += p["append_per_round"]
        _write_parquet(_vec_table(a_ids, draw(len(a_ids))),
                       os.path.join(out, "rounds", "a%02d.parquet" % r))
        live.update(int(i) for i in a_ids)
        appended += len(a_ids)
        candidates = np.array(sorted(live - set(int(i) for i in q_ids)))
        d_ids = np.sort(rng.choice(candidates, size=p["delete_per_round"], replace=False))
        _write_parquet(pa.table({"vec_id": pa.array(d_ids, pa.int64())}),
                       os.path.join(out, "rounds", "d%02d.parquet" % r))
        live.difference_update(int(i) for i in d_ids)
        deleted += len(d_ids)
    return {"vectors": n, "dim": p["dim"], "rounds": rounds,
            "queries": int(len(q_ids)), "appended": appended, "deleted": deleted,
            "live_after": len(live)}


def gen_lineitem(out):
    rng = np.random.default_rng(LINEITEM_SEED)
    n = LINEITEM_ROWS
    orders = np.sort(rng.integers(1, 150001, size=n))
    flags = np.array(["A", "N", "R"])
    table = pa.table({
        "l_orderkey": pa.array(orders, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 20001, size=n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 1001, size=n), pa.int64()),
        "l_quantity": pa.array(rng.integers(1, 51, size=n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, size=n), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, size=n) / 100.0, 2)),
        "l_returnflag": pa.array(flags[rng.integers(0, 3, size=n)]),
        "l_linestatus": pa.array(flags[1:][rng.integers(0, 2, size=n)]),
    })
    _write_parquet(table, os.path.join(out, "lineitem.parquet"))
    return {"rows": n}


def gen_corpus_index(seed, out):
    warm = os.path.join(out, "warm")
    os.makedirs(warm)
    return {"corpus": gen_corpus(seed, out), "vectors": gen_vectors(seed, out),
            "warm": {"corpus": gen_corpus(seed, warm, WARM_CORPUS, stream=(1,)),
                     "vectors": gen_vectors(seed, warm, WARM_VECTORS, stream=(1,))}}


GENERATORS = {"etl_ingest": gen_etl, "corpus_index": gen_corpus_index}


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` into the empty dir `out` and
    return the manifest (also written as `out/manifest.json`)."""
    os.makedirs(out)
    info = GENERATORS[workload](seed, out)
    sha, nbytes = _digest(out)
    manifest = {"workload": workload, "seed": seed, "bytes": nbytes,
                "sha256": sha, **info}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def lineitem(out):
    os.makedirs(out)
    info = gen_lineitem(out)
    sha, nbytes = _digest(out)
    manifest = {"table": "lineitem", "seed": LINEITEM_SEED, "bytes": nbytes, "sha256": sha, **info}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
