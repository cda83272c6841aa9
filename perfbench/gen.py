"""Seeded input generator for the benchmark.

Every function here is a pure function of its arguments: the same seed
writes byte-identical files, and a different seed writes different ones.
Nothing here reads the program's own fixtures.

  - classify_inputs: a labeled PNG tree for graft.Train, plus a manifest
    (in splits) of further images of the same planted classes for graft.Main, and the
    ground truth the output check scores against;
  - documents / embeddings: the text corpus and vectors Curate, Serve and
    the query suite read, with planted duplicates, contamination,
    repetition, short and noisy documents so that every funnel stage
    both keeps and drops a share;
  - star_tables: the TPC-H-shaped tables plus events, with the value
    domains the query suite filters on;
  - serve_schedule / suite_order: the request schedule and the query
    order.
"""
import os
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "de", "es", "fr", "zh"]
N_SOURCES = 20

# Train-side vocabulary. 20 words keep a clean document's unigram
# cross-entropy near ln(20) = 3.0 nats, under the quality gate's 3.5.
VOCAB_A = ["spark", "batch", "line", "column", "order", "small", "sort",
           "fast", "value", "scan", "hash", "group", "filter", "query",
           "key", "window", "join", "table", "row", "data"]
# Eval-slice vocabulary (doc_id % 17 == 0 is the program's stand-in
# benchmark slice). Disjoint from VOCAB_A, so a training document shares
# a 3-gram with the eval slice only where one was planted.
VOCAB_B = ["proof", "lemma", "theorem", "axiom", "prime", "integer",
           "graph", "vertex", "edge", "matrix", "vector", "tensor",
           "limit", "series", "field", "ring", "lattice", "orbit", "norm",
           "basis"]
EVAL_MOD = 17

# Planted shares, chosen to resemble a raw web crawl; each one gives one
# funnel stage something to drop.
SHARE_SHORT = 0.03      # < 5 tokens: the quality gate's length rule
SHARE_REPEAT = 0.04     # one phrase repeated: the repetition rule
SHARE_NOISY = 0.10      # rare-token noise: the LM-surprisal rule
SHARE_EXACT_DUP = 0.03  # copy of an earlier document: text dedup
SHARE_NEAR_DUP = 0.03   # copy with the last word changed: text dedup
SHARE_CONTAM = 0.06     # a 4-word passage from an eval document
SHARE_EMB_DUP = 0.02    # jittered copy of an earlier vector: semantic dedup

EMB_DIM = 64
EMB_LABELS = 10


def _rng(seed, stream):
    return np.random.default_rng([int(seed), int(stream)])


def _noise_word(r):
    letters = "bcdfghjklmnpqrstvwxz"
    return "".join(letters[i] for i in r.integers(0, len(letters), 6))


def documents(seed, n_docs):
    """documents rows as a pyarrow table (doc_id, text, lang, source,
    n_chars)."""
    r = _rng(seed, 1)
    texts = []
    for i in range(n_docs):
        n = int(r.integers(30, 91))
        if i % EVAL_MOD == 0:
            words = [VOCAB_B[j] for j in r.integers(0, len(VOCAB_B), n)]
            texts.append(" ".join(words))
            continue
        u = r.random()
        if u < SHARE_EXACT_DUP and i > 1:
            texts.append(texts[i - 1 - int(r.integers(0, min(i - 1, 50)))])
            continue
        if u < SHARE_EXACT_DUP + SHARE_NEAR_DUP and i > 1:
            src = texts[i - 1 - int(r.integers(0, min(i - 1, 50)))].split(" ")
            texts.append(" ".join(src[:-1] + ["variant"]))
            continue
        words = [VOCAB_A[j] for j in r.integers(0, len(VOCAB_A), n)]
        v = r.random()
        if v < SHARE_SHORT:
            words = words[:int(r.integers(1, 5))]
        elif v < SHARE_SHORT + SHARE_REPEAT:
            phrase = words[:6]
            at = int(r.integers(6, max(7, n - 18)))
            words = words[:at] + phrase * 3 + words[at:]
        elif v < SHARE_SHORT + SHARE_REPEAT + SHARE_NOISY:
            k = max(3, int(n * r.uniform(0.08, 0.3)))
            for p in r.choice(n, size=k, replace=False):
                words[int(p)] = _noise_word(r)
        elif v < SHARE_SHORT + SHARE_REPEAT + SHARE_NOISY + SHARE_CONTAM:
            ev = int(r.integers(0, max(1, i // EVAL_MOD))) * EVAL_MOD
            ew = texts[ev].split(" ")
            at = int(r.integers(0, len(ew) - 4))
            pos = int(r.integers(0, n - 4))
            words[pos:pos + 4] = ew[at:at + 4]
        texts.append(" ".join(words))
    lang = r.integers(0, len(LANGS), n_docs)
    src = r.integers(0, N_SOURCES, n_docs)
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[int(j)] for j in lang], pa.string()),
        "source": pa.array([f"src{int(j)}" for j in src], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(seed, n_vecs):
    """embeddings rows (vec_id, embedding float[64] unit-norm, label)."""
    r = _rng(seed, 2)
    centroids = r.uniform(-1, 1, (EMB_LABELS, EMB_DIM))
    labels = r.integers(0, EMB_LABELS, n_vecs).astype(np.int32)
    vecs = centroids[labels] * 0.8 + r.uniform(-0.4, 0.4, (n_vecs, EMB_DIM))
    dup = (r.random(n_vecs) < SHARE_EMB_DUP) & (np.arange(n_vecs) > 0)
    for i in np.nonzero(dup)[0]:
        vecs[i] = vecs[i - 1] + r.uniform(-0.001, 0.001, EMB_DIM)
        labels[i] = labels[i - 1]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def docs_tier(out_dir, seed, n_docs, n_vecs):
    """The Curate input directory: documents + embeddings."""
    os.makedirs(out_dir, exist_ok=True)
    _write(documents(seed, n_docs), os.path.join(out_dir, "documents.parquet"))
    _write(embeddings(seed, n_vecs), os.path.join(out_dir, "embeddings.parquet"))


def _days(r, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = r.integers(lo, hi + 1, n)
    return pa.array(d * 86_400_000_000, pa.timestamp("us"))


def star_tables(out_dir, seed, scale=0.1):
    """The relational tables at `scale` (0.1 = 600k lineitem rows), plus
    events, documents and embeddings, one parquet file each."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 3)
    n_cust, n_supp = int(150_000 * scale), int(10_000 * scale)
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_line, n_ev = int(6_000_000 * scale), int(1_000_000 * scale)
    n_docs, n_vecs = int(50_000 * scale), int(20_000 * scale)
    cents = lambda x: np.round(x, 2)
    pick = lambda vals, n: pa.array([vals[int(j)] for j in r.integers(0, len(vals), n)],
                                    pa.string())
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))
    f64 = lambda a: pa.array(np.asarray(a, dtype=np.float64))
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pa.table({"r_regionkey": i32(range(5)),
                     "r_name": pa.array(regions)}),
           f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": i32(range(25)),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": i32(r.integers(0, 5, 25))}),
           f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": i64(range(n_cust)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": i32(r.integers(0, 25, n_cust)),
        "c_acctbal": f64(cents(r.uniform(-999.99, 9999.99, n_cust))),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"], n_cust)}),
        f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": i64(range(n_supp)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": i32(r.integers(0, 25, n_supp)),
        "s_acctbal": f64(cents(r.uniform(-999.99, 9999.99, n_supp)))}),
        f"{out_dir}/supplier.parquet")
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    _write(pa.table({
        "p_partkey": i64(range(n_part)),
        "p_name": pa.array([f"{adj[int(a)]} {noun[int(b)]}" for a, b in
                            zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))]),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                        "STANDARD"], n_part),
        "p_size": i32(r.integers(1, 51, n_part)),
        "p_retailprice": f64(900 + r.integers(0, 1000, n_part) / 10)}),
        f"{out_dir}/part.parquet")
    _write(pa.table({
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(r.integers(0, n_cust, n_ord)),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": f64(cents(r.uniform(1000, 500_000, n_ord))),
        "o_orderdate": _days(r, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        f"{out_dir}/orders.parquet")
    _write(pa.table({
        "l_orderkey": i64(r.integers(0, n_ord, n_line)),
        "l_partkey": i64(r.integers(0, n_part, n_line)),
        "l_suppkey": i64(r.integers(0, n_supp, n_line)),
        "l_linenumber": i32(r.integers(1, 8, n_line)),
        "l_quantity": f64(r.integers(1, 51, n_line)),
        "l_extendedprice": f64(cents(r.uniform(900, 105_000, n_line))),
        "l_discount": f64(r.integers(0, 11, n_line) / 100),
        "l_tax": f64(r.integers(0, 9, n_line) / 100),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": _days(r, "1995-01-02", "2001-11-04", n_line)}),
        f"{out_dir}/lineitem.parquet")
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(t0 + r.integers(0, 30 * 86_400_000_000, n_ev))
    _write(pa.table({
        "event_id": i64(range(n_ev)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": i64(r.integers(0, int(15_000 * scale), n_ev)),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": f64(cents(r.exponential(50.0, n_ev))),
        "props": pa.array([f'{{"k": {int(k)}}}' for k in r.integers(0, 100, n_ev)])}),
        f"{out_dir}/events.parquet")
    _write(documents(seed, n_docs), f"{out_dir}/documents.parquet")
    _write(embeddings(seed, n_vecs), f"{out_dir}/embeddings.parquet")


def _png_gray(pixels):
    """Minimal grayscale 8-bit PNG encoder (deterministic bytes)."""
    h, w = pixels.shape
    raw = b"".join(b"\x00" + pixels[y].tobytes() for y in range(h))

    def chunk(tag, data):
        body = tag + data
        return struct.pack(">I", len(data)) + body + \
            struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
    return (b"\x89PNG\r\n\x1a\n" +
            chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)) +
            chunk(b"IDAT", zlib.compress(raw, 6)) + chunk(b"IEND", b""))


N_CLASSES = 8
IMG_SIZE = 48
MANIFEST_SPLITS = 4


def _image(r, cls):
    """One image of planted class `cls`: a brightness level per class
    (the scorer's luma-histogram feature separates them) under a random
    gradient and pixel noise."""
    level = 24 + cls * 28
    yy, xx = np.mgrid[0:IMG_SIZE, 0:IMG_SIZE]
    gx, gy = r.uniform(-0.25, 0.25, 2)
    img = level + gx * (xx - IMG_SIZE / 2) + gy * (yy - IMG_SIZE / 2) + \
        r.normal(0, 10, (IMG_SIZE, IMG_SIZE))
    return _png_gray(np.clip(img, 0, 255).astype(np.uint8))


def classify_inputs(out_dir, seed, n_images, train_per_class):
    """train/c<k>/t<i>.png (the Train tree), images/i<j>.png plus
    manifest/ (one relative path per line) and truth.tsv (path TAB
    planted class)."""
    r = _rng(seed, 4)
    for k in range(N_CLASSES):
        d = os.path.join(out_dir, "train", f"c{k}")
        os.makedirs(d, exist_ok=True)
        for i in range(train_per_class):
            with open(os.path.join(d, f"t{i:03d}.png"), "wb") as f:
                f.write(_image(r, k))
    os.makedirs(os.path.join(out_dir, "images"), exist_ok=True)
    classes = r.integers(0, N_CLASSES, n_images)
    lines, truth = [], []
    for j, k in enumerate(classes):
        rel = f"images/i{j:05d}.png"
        with open(os.path.join(out_dir, rel), "wb") as f:
            f.write(_image(r, int(k)))
        lines.append(rel)
        truth.append(f"{rel}\tc{int(k)}")
    # The manifest comes as MANIFEST_SPLITS list files in one directory,
    # as a large input list arrives in splits: one map task per split.
    os.makedirs(os.path.join(out_dir, "manifest"), exist_ok=True)
    for k in range(MANIFEST_SPLITS):
        with open(os.path.join(out_dir, "manifest", f"part-{k:05d}.txt"), "w") as f:
            f.write("".join(l + "\n" for l in lines[k::MANIFEST_SPLITS]))
    with open(os.path.join(out_dir, "truth.tsv"), "w") as f:
        f.write("\n".join(truth) + "\n")


def serve_schedule(path, seed, n, fused_share):
    """One request per line: retriever TAB pick, where pick is a uniform
    draw the harness maps onto the servable query panel."""
    r = _rng(seed, 5)
    with open(path, "w") as f:
        for _ in range(n):
            kind = "fused" if r.random() < fused_share else "ivf"
            f.write(f"{kind}\t{r.random():.12f}\n")


def suite_order(path, seed, names):
    r = _rng(seed, 6)
    order = [names[int(i)] for i in r.permutation(len(names))]
    with open(path, "w") as f:
        f.write("\n".join(order) + "\n")
