"""Seeded inputs for every workload. The JVM receives only what these
functions return; the same seed always gives the same plan."""
import random

# The surface_sweep subset: one to three queries of every registry family
# (the relational three include the q9b sketch contract), few enough that
# a run with its cold pass stays near a minute. The other 108 registry
# queries are not swept.
SWEEP_QUERIES = [
    "q1_agg", "q3_join_agg", "q9b_approx_distinct",
    "vec_knn_kmeans", "vec_knn_brute",
    "fts_bm25", "fts_boolean",
    "graph_khop", "graph_path_find",
    "dedup_simhash", "dedup_exact",
    "text_bpe_train", "text_langid",
    "curate_dsir", "curate_gopher_rules",
    "chunk_structured", "embed_batches",
    "mm_phash_dedup",
    "pattern_search",
    "stream_sessionize",
    "dsl_agg",
]

# Corpus facts of perfbench/data/sf0.001, read once with DuckDB: words in
# at least 20 documents, the supplier and part keys of lineitem, and the
# languages of `documents`.
VOCAB = ["agg", "batch", "big", "column", "customer", "data", "dup", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
SUPPLIERS = range(10)
PARTS = range(200)
LANGS = ["en", "fr", "es", "de", "zh", None]
KMEANS_K = 8
MAX_DEPTH = 6

# search_serve traffic. No published or recorded trace of agent search
# traffic against a cortex-style index was available, so every share below
# is an UNVERIFIED ASSUMPTION of this benchmark, fixed so that every seed
# gets the same mix and the seed picks only the parameters:
#  - kinds come in a fixed cycle of 4 fts : 1 vec : 1 graph;
#  - each kind follows a fixed pattern of requests with a parameter set not
#    issued before (N) and repeats of an earlier one (R): 1/2 of vec and fts
#    requests and 3/4 of graph requests repeat;
#  - a repeat picks an earlier request of its kind with Zipf skew s = 1.1
#    over recency: rank 1 is the parameter set first issued most recently
#    (ranking by popularity let early requests collect most repeats, so
#    the seed's first draws decided a run's repeat costs);
#  - new graph requests cycle through GRAPH_NOVEL (paths of 1-3 hops, most
#    of 2, and a k-hop traversal of a depth 2-6), new vec requests alternate
#    between an IVF probe (nprobe 1-8, in a seeded order) and the next KNN
#    row of the registry in VEC_REGISTRY order.
# The measured repeat share of each kind is reported with every run.
KIND_CYCLE = ["fts", "vec", "fts", "graph", "fts", "fts"]
NOVELTY = {"vec": "NR", "fts": "NR", "graph": "NRRR"}
GRAPH_NOVEL = ["path1", "path2", "path2", "path3", "path2", "khop"]
# graft's vector searches all rank against one query vector (vec_id 0) and
# no public call takes another, so the vector requests are the probe width
# of SearchOps.vecKnnKmeansProbes plus the single-query KNN rows of the
# registry. The timed ones are the 8 probes and the 5 rows that cost about
# what a probe costs or less, 13 requests that last about 156 timed
# requests (a 20 s run answers 160-195); the registry order is fixed, so
# the seed does not decide which rows a run's new vec requests include.
# The 3 rows that cost more (vec_knn_pq 350 ms, and seconds the first time
# while it trains its codebooks; vec_knn_ivf_probe 400 ms; hybrid_search
# 300 ms) are warm-up requests: among the timed ones, the seed's draw of
# how often they repeated moved the tail between 260 and 370 ms.
VEC_NOVEL = ["probe", "registry"]
VEC_REGISTRY = ["vec_knn_brute", "vec_knn_ivf", "vec_knn_kmeans", "vec_knn_min_score",
                "vec_knn_filtered"]
# requests after which the whole mix, novelty patterns included, repeats
MIX_PERIOD = len(KIND_CYCLE) * max(len(p) for p in NOVELTY.values())
ZIPF_S = 1.1
# Set-up ends with warm-up requests of the same mix: after a handful of
# requests the FTS latency still fell from about 110 ms to 75 ms over the
# first 16 s of serving (JIT compilation of the serving path), which put a
# seed- and host-dependent trend into the timed medians. Warm-up vec
# requests are registry rows outside the timed vec requests; vec_kmeans
# trains the quantizer the IVF probes use.
WARMUP = 3 * MIX_PERIOD
VEC_WARMUP = ["vec_kmeans", "vec_knn_pq", "vec_knn_ivf_probe", "hybrid_search",
              "vec_quantize_int8", "vec_knn_join"]


def surface_plan(seed):
    names = list(SWEEP_QUERIES)
    random.Random(seed).shuffle(names)
    return {"queries": names}


def _key(spec):
    return "|".join(f"{k}={spec[k]}" for k in sorted(spec) if k != "kind")


def _fts_spec(rng):
    words = rng.sample(VOCAB, 2)
    shape = rng.choice(["term", "and", "or", "prefix"])
    if shape == "term":
        q = ["term", words[0]]
    elif shape == "prefix":
        q = ["prefix", words[0][:2]]
    else:
        q = [shape, ["term", words[0]], ["term", words[1]]]
    return {"kind": "fts", "op": "fts", "q": q, "lang": rng.choice(LANGS),
            "rank": words[0], "k": rng.choice([10, 20])}


def _vec_specs(rng):
    """Every vec request, by shape, in the order they are issued."""
    probes = [{"kind": "vec", "op": "probe", "nprobe": n} for n in range(1, KMEANS_K + 1)]
    rng.shuffle(probes)
    return {"probe": probes,
            "registry": [{"kind": "vec", "op": "registry", "query": q} for q in VEC_REGISTRY]}


def _novel_spec(kind, rng, nth, vec):
    """The `nth` new request of `kind`; `vec` holds the vec requests not
    issued yet, by shape."""
    if kind == "fts":
        return _fts_spec(rng)
    if kind == "vec":
        shape = VEC_NOVEL[nth % len(VEC_NOVEL)]
        left = vec.get(shape) or next((v for v in vec.values() if v), None)
        return left.pop(0) if left else None
    shape = GRAPH_NOVEL[nth % len(GRAPH_NOVEL)]
    if shape == "khop":
        return {"kind": "graph", "op": "khop", "depth": rng.randint(2, MAX_DEPTH)}
    return {"kind": "graph", "op": "path", "src": rng.choice(SUPPLIERS),
            "dst": rng.choice(PARTS), "depth": int(shape[-1])}


def _zipf_pick(items, rng):
    """One of `items`, skewed toward the first."""
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(items))]
    return rng.choices(items, weights=weights)[0]


def _requests(rng, n, seen, specs, vec, warmup):
    """`n` requests of the mix. A repeat (R in NOVELTY) re-issues an
    earlier request of its kind from this same call, chosen with Zipf skew
    over recency; a new one (N) is a parameter set not in `seen`, or a
    repeat once a kind has run out of new ones. Each request's `novel`
    flag says which it is."""
    firsts = {k: [] for k in KIND_CYCLE}  # keys of a kind, in first-issue order
    issued = dict.fromkeys(KIND_CYCLE, 0)
    novel = dict.fromkeys(KIND_CYCLE, 0)
    out = []

    def repeat(kind):
        return specs[_zipf_pick(firsts[kind][::-1], rng)]

    for i in range(n):
        kind = KIND_CYCLE[i % len(KIND_CYCLE)]
        pattern = NOVELTY[kind]
        issued[kind] += 1
        if pattern[(issued[kind] - 1) % len(pattern)] == "R":
            spec = repeat(kind)
        else:
            for _ in range(50):
                spec = _novel_spec(kind, rng, novel[kind], vec) or repeat(kind)
                if _key(spec) not in seen:
                    break
            novel[kind] += 1
        key = _key(spec)
        specs[key] = spec
        out.append(dict(spec, key=key, warmup=warmup, novel=key not in seen))
        seen.add(key)
        if key not in firsts[kind]:
            firsts[kind].append(key)
    return out


def serve_plan(seed, n=3000):
    """WARMUP warm-up requests, then `n` timed requests, both of the same
    mix. No timed request repeats a warm-up one: warm-up vec requests are
    registry rows outside the timed vec requests, and the other kinds'
    new timed requests skip parameter sets the warm-up issued."""
    rng = random.Random(seed)
    seen, specs = set(), {}
    warm = _requests(rng, WARMUP, seen, specs, {"registry": [
        {"kind": "vec", "op": "registry", "query": q} for q in VEC_WARMUP]}, True)
    timed = _requests(rng, n, seen, specs, _vec_specs(rng), False)
    return {"requests": warm + timed}


# watch_churn: one batch of new supplier->part edges every PERIOD_MS
PERIOD_MS = 1000
BATCH_EDGES = 4
NEW_PART_BASE = 1_000_000


def churn_plan(seed, seconds):
    rng = random.Random(seed)
    n = int(seconds * 1000 / PERIOD_MS) + 2
    batches = [[[rng.choice(SUPPLIERS), NEW_PART_BASE + i * BATCH_EDGES + j]
                for j in range(BATCH_EDGES)] for i in range(n)]
    reads = [rng.randint(1, 2) for _ in range(64)]
    return {"batches": batches, "period_ms": PERIOD_MS, "reads": reads}
