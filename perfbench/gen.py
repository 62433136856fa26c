#!/usr/bin/env python3
"""Seeded input generators for the three benchmark workloads.

Every table is a pure function of (workload, seed, warm): numpy
generators seeded from (seed, stream) draw the values, rows are written
in a fixed order to fixed file names, so one seed always writes the
same parquet bytes. The program under test only ever sees these files.

Warm-up inputs (warm=True) are smaller and use disjoint series keys,
document ids and vocabulary (another syllable inventory), so warming
the JIT and Spark's code generation pre-caches nothing a timed run
reads. Vector ids cannot be disjoint: the program's conventions make
the first vec_ids the queries and the quantizer's codebook.

    python3 perfbench/gen.py --workload <name> --seed <n> --verify

generates the timed inputs twice from one seed and once from the next
seed under .bench_build/ and checks that the first two are
byte-identical and the third differs.
"""
import argparse
import hashlib
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FILES = 8  # files per large table, so every core gets a read split


def rng(seed, stream):
    return np.random.default_rng([seed, stream])


def write(table, path, files=1):
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for f in range(files):
        lo, hi = n * f // files, n * (f + 1) // files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, "part-%05d.parquet" % f),
                       compression="snappy")


# ------------------------------------------------------------- forecast_chain

def forecast_size(warm):
    return {"series": 20 if warm else 200, "days": 730}


def events(out, seed, warm):
    """One event per series per day. The series law follows the
    reference generator: exponential trend sign*salary*e^(rate*t/T), one
    of four seasonal waves (sine, sawtooth, triangle, square), uniform
    noise of +-10 % of salary, and three level shifts of
    N(3*salary, salary) with random sign in the year before the final 92
    days. One series in twenty is a flat, inactive account, which the
    cleaning step drops.
    """
    size = forecast_size(warm)
    s, d = size["series"], size["days"]
    r = rng(seed, 1)
    keys = (10_000_000 if warm else 0) + np.arange(s, dtype=np.int64)
    salary = r.uniform(50, 150, s)
    sign = np.where(r.uniform(size=s) < 0.8, 1.0, -1.0)
    rate = r.uniform(1, 2, s)
    kind = r.integers(0, 4, s)
    period = np.array([7.0, 30.5, 91.0, 365.0])[r.integers(0, 4, s)]
    amp = r.uniform(0.2, 0.5, s) * salary
    phase = r.uniform(size=s)
    inactive = r.uniform(size=s) < 0.05
    last = d - 92
    first = max(0, last - 365)
    spike_day = r.integers(first, last, (s, 3))
    spike_amp = (3 + r.standard_normal((s, 3))) * salary[:, None] * \
        np.where(r.uniform(size=(s, 3)) < 0.5, 1.0, -1.0)
    noise = r.uniform(-1, 1, (s, d)) * 0.1 * salary[:, None]
    sec = r.integers(0, 86400, (s, d))

    t = np.arange(d)
    frac = (t[None, :] / period[:, None] + phase[:, None]) % 1.0
    wave = np.select(
        [kind[:, None] == 0, kind[:, None] == 1, kind[:, None] == 2],
        [np.sin(2 * np.pi * frac), 2 * frac - 1, 1 - 4 * np.abs(frac - 0.5)],
        np.where(frac < 0.5, 1.0, -1.0))
    trend = (sign * salary)[:, None] * np.exp(rate[:, None] * t[None, :] / (d - 1))
    level = (spike_amp[:, :, None] * (t[None, None, :] >= spike_day[:, :, None])).sum(axis=1)
    value = np.round(trend + amp[:, None] * wave + level + noise, 2)
    value[inactive] = np.round(salary[inactive], 2)[:, None]

    day0 = np.datetime64("2022-01-01T00:00:00", "s").astype(np.int64)
    ts_us = (day0 + t[None, :] * 86400 + sec) * 1_000_000
    table = pa.table({
        "event_id": (keys[:, None] * d + t[None, :]).ravel(),
        "ts": pa.array(ts_us.ravel(), pa.timestamp("us", tz="UTC")),
        "user_id": np.repeat(keys, d),
        "event_type": pa.array(["purchase"] * (s * d)),
        "value": value.ravel(),
    })
    write(table, os.path.join(out, "events"), FILES)


# --------------------------------------------------------------- vector_store

def vector_size(warm):
    if warm:
        return {"base": 400, "batch": 80, "takedown": 40, "batches": 2}
    return {"base": 2000, "batch": 250, "takedown": 125, "batches": 24}


DIM, CLUSTERS, LABELS, SPARE = 64, 24, 4, 64  # SPARE: query + codebook ids


def vectors(out, seed, warm):
    """Clustered, labelled 64-d vectors: a base set (batch -1) and the
    append batches, plus the takedown schedule: cycle i removes ids
    drawn uniformly from those live after batch i's append, never an
    id below SPARE (the query ids and the quantizer's codebook ids).
    """
    size = vector_size(warm)
    n = size["base"] + size["batches"] * size["batch"]
    # one fixed set of cluster centres for every seed: seeds differ in the
    # points, labels and schedules, not in how far apart the clusters are
    c = rng(0, 3).standard_normal((CLUSTERS, DIM))
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    r = rng(seed, 4)
    cluster = r.integers(0, CLUSTERS, n)
    vec = (c[cluster] + 0.12 * r.standard_normal((n, DIM))).astype(np.float32)
    label = r.integers(0, LABELS, n).astype(np.int32)
    ids = np.arange(n, dtype=np.int64)
    batch = np.where(ids < size["base"], -1, (ids - size["base"]) // size["batch"]).astype(np.int32)
    table = pa.table({
        "vec_id": ids,
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), DIM)
        .cast(pa.list_(pa.float32())),
        "label": label,
        "batch": batch,
    })
    write(table, os.path.join(out, "vectors"), FILES)

    live = list(range(SPARE, size["base"]))
    cycles, gone = [], []
    r = rng(seed, 5)
    for i in range(size["batches"]):
        live += range(size["base"] + i * size["batch"], size["base"] + (i + 1) * size["batch"])
        for _ in range(size["takedown"]):
            at = int(r.integers(0, len(live)))
            live[at], live[-1] = live[-1], live[at]
            gone.append(live.pop())
            cycles.append(i)
    write(pa.table({"cycle": pa.array(cycles, pa.int32()), "vec_id": pa.array(gone, pa.int64())}),
          os.path.join(out, "takedowns"))


# ---------------------------------------------------------------- corpus_prep

def corpus_size(warm):
    if warm:
        return {"docs": 1200, "vocab": 20_000, "bench": 30}
    return {"docs": 5_000, "vocab": 2_000_000, "bench": 200}


# shares of exact copies, near-duplicates and contaminated documents
KINDS = (("orig", None), ("dup", 0.05), ("near", 0.05), ("contam", 0.02))
# Zipf exponent: flat enough that one read task of the timed corpus sees
# more word types than a tokenizer's 65,536-entry per-task word memo
ZIPF_S = 0.9
LANGS = ["en", "de", "fr", "es", "zh"]
STOP = ["the", "a", "of", "and", "to", "in", "is", "on", "for"]


def syllables(warm):
    cons = "qwxy" if warm else "bcdfghjklmnprstvz"
    return [c + v for c in cons for v in "aeiou"]


def spell(token, syl):
    """Token id -> word: base-|syl| digits of the Zipf rank, rotated by
    language so each language spells a rank differently."""
    if token < 0:
        return STOP[-token - 1]
    rank, lang = divmod(int(token), len(LANGS))
    n, out, i = len(syl), [], 0
    while True:
        out.append(syl[(rank % n + 17 * lang + i) % n])
        rank //= n
        i += 1
        if rank == 0:
            return "".join(out)


def corpus(out, seed, warm):
    """Zipfian documents in 20 sources and 5 languages. About 5 % are
    exact copies ("dup") and 5 % near-duplicates ("near", one word
    swapped) of an earlier original, and about 2 % embed one 12-word
    benchmark item verbatim ("contam"). Benchmark items draw from the
    rarest tenth of the vocabulary, so an ordinary document almost
    never shares a 4-gram with one by chance. Exact copies must always
    fold into their original; near-duplicates are what MinHash dedup
    may miss, and their removal rate is the workload's quality figure.
    """
    size = corpus_size(warm)
    n, vocab, nb = size["docs"], size["vocab"], size["bench"]
    base = 100_000_000 if warm else 0
    r = rng(seed, 6)
    u = r.uniform(size=n)
    cum = np.cumsum([share for _, share in KINDS[1:]])
    kind = np.where(u < cum[-1], 1 + np.searchsorted(cum, u, side="right"), 0)
    kind[0] = 0
    lang = np.where(r.uniform(size=n) < 0.44, 0, r.integers(1, 5, n))
    source = r.integers(0, 20, n)
    length = r.integers(35, 85, n)

    def zipf(k):
        # continuous power law p(rank) ~ rank^-ZIPF_S on [1, vocab], by inverse CDF
        e = 1.0 - ZIPF_S
        x = (1.0 + r.uniform(size=k) * (vocab ** e - 1.0)) ** (1.0 / e)
        return np.minimum(vocab - 1, np.floor(x) - 1).astype(np.int64)

    def words(k, lg):
        w = zipf(k) * len(LANGS) + lg
        stop = r.uniform(size=k) < 0.04
        w[stop] = -1 - r.integers(0, len(STOP), int(stop.sum()))
        return w

    bench = [(vocab - 1 - r.integers(0, vocab // 10, 12)) * len(LANGS) for _ in range(nb)]
    origs = np.flatnonzero(kind == 0)
    docs, cluster = [], np.arange(n, dtype=np.int64)
    for i in range(n):
        if kind[i] in (1, 2):
            # a copy of a uniformly chosen earlier original
            j = int(origs[r.integers(0, np.searchsorted(origs, i))])
            w = docs[j].copy()
            lang[i], source[i], cluster[i] = lang[j], source[j], j
            if kind[i] == 2:
                w[r.integers(0, len(w))] = words(1, lang[j])[0]
        else:
            w = words(int(length[i]), lang[i])
            if kind[i] == 3:
                w = w[:60]
                at = int(r.integers(0, len(w)))
                w = np.concatenate([w[:at], bench[int(r.integers(0, nb))], w[at:]])
        docs.append(w)

    uniq, inv = np.unique(np.concatenate(docs + bench), return_inverse=True)
    syl = syllables(warm)
    spelled = np.array([spell(t, syl) for t in uniq], dtype=object)
    inv_docs = np.split(inv, np.cumsum([len(w) for w in docs + bench])[:-1])
    texts = [" ".join(spelled[x]) for x in inv_docs]
    doc_text, bench_text = texts[:n], texts[n:]

    ids = base + np.arange(n, dtype=np.int64)
    write(pa.table({
        "doc_id": ids,
        "text": pa.array(doc_text, pa.string()),
        "lang": pa.array([LANGS[x] for x in lang], pa.string()),
        "source": pa.array(["src%d" % x for x in source], pa.string()),
        "n_chars": np.array([len(t) for t in doc_text], dtype=np.int64),
    }), os.path.join(out, "documents"), FILES)
    planted = kind != 0
    write(pa.table({
        "doc_id": ids[planted],
        "kind": pa.array([KINDS[k][0] for k in kind[planted]], pa.string()),
        "cluster": base + cluster[planted],
    }), os.path.join(out, "planted"))
    write(pa.table({
        "doc_id": base + n + np.arange(nb, dtype=np.int64),
        "text": pa.array(bench_text, pa.string()),
    }), os.path.join(out, "benchmark"))


GENERATORS = {"forecast_chain": events, "vector_store": vectors, "corpus_prep": corpus}


def generate(workload, out, seed, warm):
    shutil.rmtree(out, ignore_errors=True)
    GENERATORS[workload](out, seed, warm)


def digest(path):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(d, f), path).encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def verify(root, workload, seed):
    base = os.path.join(root, ".bench_build", "verify-%d" % os.getpid())
    try:
        sums = []
        for tag, s in (("a", seed), ("b", seed), ("c", seed + 1)):
            generate(workload, os.path.join(base, tag), s, warm=False)
            sums.append(digest(os.path.join(base, tag)))
    finally:
        shutil.rmtree(base, ignore_errors=True)
    same, differs = sums[0] == sums[1], sums[0] != sums[2]
    print("%s: seed %d twice -> %s (sha256 %s); seed %d -> %s" % (
        workload, seed, "byte-identical" if same else "DIFFERENT", sums[0][:16],
        seed + 1, "differs" if differs else "SAME"))
    return 0 if same and differs else 1


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="benchmark input generators")
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--verify", action="store_true")
    a = ap.parse_args()
    if not a.verify:
        ap.error("only --verify is supported from the command line")
    sys.exit(verify(os.getcwd(), a.workload, a.seed))
