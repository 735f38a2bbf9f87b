"""Seeded input generators for the benchmark workloads.

Each generator writes the inputs the engine reads plus `truth.json`, the
planted facts the output checks compare against. Truth is derived here from
the generator's own random draws (numpy), never from the engine's operators.
The same (workload, seed) always yields byte-identical inputs.
"""

import json
import os
import shutil

import numpy as np

# ---------------------------------------------------------------- lifecycle

LC_ROWS = 12000
LC_PARTS = 8
LC_CANDIDATES = 24
LC_SIGNAL_NUM = ["c00", "c01", "c02", "c03"]
LC_SIGNAL_CAT = "c04"
LC_REDUNDANT = "c05"        # noisy copy of c00: |corr| > 0.9
LC_MOSTLY_MISSING = "c23"   # 99% missing: dropped by the missing screen
LC_CAT_COLS = [f"c{i:02d}" for i in range(17, 23)] + [LC_SIGNAL_CAT]
LC_TOPN = 8


def _auc(score, label):
    """Rank AUC (Mann-Whitney) of `score` against binary `label`."""
    order = np.argsort(score, kind="mergesort")
    ranks = np.empty(len(score))
    ranks[order] = np.arange(1, len(score) + 1)
    pos = label.astype(bool)
    n_pos, n_neg = pos.sum(), (~pos).sum()
    return float((ranks[pos].sum() - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg))


def gen_lifecycle(seed, out):
    rng = np.random.default_rng([seed, 1])
    n = LC_ROWS
    names = [f"c{i:02d}" for i in range(LC_CANDIDATES)]
    cols = {}
    x = rng.standard_normal((n, 4))
    cat_levels = np.array([f"k{j}" for j in range(6)])
    cat_effect = np.array([-0.6, -0.3, 0.0, 0.1, 0.4, 0.7])
    cat_idx = rng.integers(0, 6, n)
    z = 0.75 * x[:, 0] + 0.6 * x[:, 1] - 0.55 * x[:, 2] + 0.45 * x[:, 3] \
        + cat_effect[cat_idx] - 0.3
    y = (rng.random(n) < 1.0 / (1.0 + np.exp(-z))).astype(int)
    missing = {}

    def numeric(name, values, miss_rate):
        s = np.char.mod("%.4f", values).astype(object)
        m = rng.random(n) < miss_rate
        # both sentinels the reader nulls: '?' and the empty field
        s[m] = np.where(rng.random(m.sum()) < 0.5, "?", "")
        cols[name] = s
        missing[name] = m

    for i, c in enumerate(LC_SIGNAL_NUM):
        numeric(c, x[:, i], 0.01)
    numeric(LC_REDUNDANT, x[:, 0] + 0.3 * rng.standard_normal(n), 0.01)
    # missing rates stay under the 5% that would type a column categorical
    for i in range(6, 16):
        numeric(f"c{i:02d}", rng.standard_normal(n) * (1 + i % 5)
                + (i % 7), 0.01 * (i % 5))
    numeric("c16", rng.exponential(2.0, n), 0.03)
    m = rng.random(n) < 0.99
    s = np.char.add("v", rng.integers(0, 3, n).astype(str)).astype(object)
    s[m] = "?"
    cols[LC_MOSTLY_MISSING] = s
    missing[LC_MOSTLY_MISSING] = m
    for i, c in enumerate(LC_CAT_COLS):
        if c == LC_SIGNAL_CAT:
            s = cat_levels[cat_idx].astype(object)
            m = rng.random(n) < 0.01
        else:
            k = 4 + 3 * i
            s = np.char.add("v", rng.integers(0, k, n).astype(str)).astype(object)
            m = rng.random(n) < 0.03 * (i % 3)
        s[m] = "?"
        cols[c] = s
        missing[c] = m
    # init drops rows whose tag is missing ('?' -> null) or not a known tag
    tag = y.astype(str).astype(object)
    r = rng.random(n)
    tag[r < 0.02] = "?"
    tag[(r >= 0.02) & (r < 0.03)] = "x"
    kept = r >= 0.03
    ids = np.arange(n).astype(str)
    header = ["id", "tag"] + names
    table = np.column_stack([ids, tag] + [cols[c] for c in names])
    data = os.path.join(out, "data")
    os.makedirs(data)
    for p, chunk in enumerate(np.array_split(table, LC_PARTS)):
        with open(os.path.join(data, f"part-{p:05d}.psv"), "w") as f:
            f.write("\n".join("|".join(row) for row in chunk))
            f.write("\n")
    yk = y[kept]
    truth = {
        "header": header,
        "candidates": names,
        "topn": LC_TOPN,
        "rows": n,
        "kept_rows": int(kept.sum()),
        "kept_pos": int(yk.sum()),
        "missing": {c: int((missing[c] & kept).sum()) for c in names},
        "signal_numeric": LC_SIGNAL_NUM,
        "signal_categorical": LC_SIGNAL_CAT,
        "redundant": LC_REDUNDANT,
        "redundant_of": LC_SIGNAL_NUM[0],
        "mostly_missing": LC_MOSTLY_MISSING,
        "categorical": LC_CAT_COLS,
        # the AUC of the planted logit itself: no model of these columns
        # can rank better in expectation
        "oracle_auc": _auc(z[kept], yk),
        "input_rows": n,
    }
    return truth


# ----------------------------------------------------- text and vectors

VOCAB = np.array([f"w{i}" for i in range(6000)])
EN_STOP = np.array(["the", "a", "of", "and", "is"])


def _doc(rng, n_tok):
    """English-looking text: vocabulary words and 25% stopwords."""
    toks = VOCAB[rng.integers(0, len(VOCAB), n_tok)].astype(object)
    s = rng.random(n_tok) < 0.25
    toks[s] = EN_STOP[rng.integers(0, len(EN_STOP), s.sum())]
    return list(toks)


def _near(rng, toks, edits):
    """A near-duplicate: `edits` single-token substitutions."""
    t = list(toks)
    for p in rng.choice(len(t), edits, replace=False):
        t[p] = VOCAB[rng.integers(0, len(VOCAB))]
    return t


def _unit(v):
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


def _exact_topk(queries, base, base_ids, k):
    """Brute-force cosine top-k ids of each query row over `base`."""
    sims = _unit(queries) @ _unit(base).T
    top = np.argpartition(-sims, k, axis=1)[:, :k]
    return [[int(base_ids[j]) for j in row] for row in top]


# ------------------------------------------------------------ index_stream

IS_CYCLES = 8
IS_GATE_BATCHES = 3         # per cycle; also the gate's compactEvery
IS_GATE_DOCS = 200
IS_DUP_BATCH = 1            # index within a cycle of the duplicate-bearing batch
IS_REPEATS = 30             # repeats in a duplicate-bearing batch (exact + near)
IS_RETRACT = 5
IS_ANN_BATCHES = 2          # per cycle; also the ANN compactEvery
IS_ANN_VECS = 300
IS_DIM = 64
IS_CENTERS = 24
IS_DRIFT_BATCH = 1          # first ANN batch of the drift
IS_QUERIES = 30
IS_DELETES = 25
IS_K = 10


def gen_index_stream(seed, out):
    rng = np.random.default_rng([seed, 3])
    # -- gate: documents per batch, with repeats of earlier batches
    rows_b, rows_id, rows_t = [], [], []
    repeats = []                 # (doc_id, source_id, kind, batch)
    batch_class = []
    pool = []                    # ids a later repeat may copy
    used_src = set()
    retract = []                 # per cycle: retracted doc ids
    retracted = set()
    next_id = 1
    texts = {}
    for c in range(IS_CYCLES):
        cycle_fresh = []
        for b in range(IS_GATE_BATCHES):
            g = c * IS_GATE_BATCHES + b
            dup = b == IS_DUP_BATCH
            batch_class.append("compact" if (g + 1) % IS_GATE_BATCHES == 0
                               else ("dup" if dup else "clean"))
            n_rep = IS_REPEATS if dup else 0
            batch_fresh = []
            for i in range(IS_GATE_DOCS):
                did = next_id
                next_id += 1
                if i < n_rep:
                    src = pool[int(rng.integers(0, len(pool)))]
                    used_src.add(src)
                    kind = "exact" if i % 2 == 0 else "near"
                    t = texts[src] if kind == "exact" else \
                        " ".join(_near(rng, texts[src].split(" "), 1))
                    repeats.append((did, src, kind, g))
                else:
                    t = " ".join(_doc(rng, int(rng.integers(40, 70))))
                    batch_fresh.append(did)
                texts[did] = t
                rows_b.append(g)
                rows_id.append(did)
                rows_t.append(t)
            # repeats only ever copy STRICTLY earlier batches: the gate
            # screens a batch against prior state, not against itself
            pool.extend(batch_fresh)
            cycle_fresh.extend(batch_fresh)
        # the cycle ends with a takedown of a few fresh docs no repeat
        # has copied; they leave the pool so no later repeat copies
        # retracted content
        victims = [int(d) for d in rng.choice(
            [d for d in cycle_fresh if d not in used_src], IS_RETRACT,
            replace=False)]
        retract.append(victims)
        retracted.update(victims)
        pool = [d for d in pool if d not in retracted]
    rep_ids = {r[0] for r in repeats}
    rep_src = {r[1] for r in repeats}
    assert not (rep_src & retracted)
    # repeat sources must not be repeats themselves (provenance stays one hop)
    assert not (rep_src & rep_ids)
    # -- ANN: background mixture; from the drift batch on, most of each
    # batch lands in one tight far cluster. The quantizer trained on the
    # first batch piles the drift into few cells, so the first compaction
    # records a skew the next one heals by splitting; each cycle deletes
    # pre-drift vectors, draining their cells (fold heal)
    centers = rng.standard_normal((IS_CENTERS, IS_DIM)) * 2.0
    drift_center = rng.standard_normal(IS_DIM) * 2.0 + 6.0
    vec_b, vec_id, vecs = [], [], []
    vid = 1
    for c in range(IS_CYCLES):
        for b in range(IS_ANN_BATCHES):
            g = c * IS_ANN_BATCHES + b
            n_drift = int(0.7 * IS_ANN_VECS) if g >= IS_DRIFT_BATCH else 0
            bg = centers[rng.integers(0, IS_CENTERS, IS_ANN_VECS - n_drift)] \
                + rng.standard_normal((IS_ANN_VECS - n_drift, IS_DIM))
            dr = drift_center + 0.5 * rng.standard_normal((n_drift, IS_DIM))
            v = np.vstack([bg, dr])
            vecs.append(v)
            vec_b.extend([g] * len(v))
            vec_id.extend(range(vid, vid + len(v)))
            vid += len(v)
    # the engine gets the vectors as written: truth uses the same digits
    vecs = np.round(np.vstack(vecs), 6)
    vec_b = np.array(vec_b)
    vec_id = np.array(vec_id, dtype=np.int64)
    # per cycle: queries run after the cycle's batches, then the deletes
    deleted = np.zeros(len(vec_id), dtype=bool)
    q_cycle, q_id, q_vec, topk, del_cycle, del_id = [], [], [], [], [], []
    pre_drift = np.where(vec_b < IS_DRIFT_BATCH)[0]
    for c in range(IS_CYCLES):
        live = np.where((vec_b < (c + 1) * IS_ANN_BATCHES) & ~deleted)[0]
        q = centers[rng.integers(0, IS_CENTERS, IS_QUERIES)] \
            + rng.standard_normal((IS_QUERIES, IS_DIM))
        q[: IS_QUERIES // 4] = drift_center + \
            0.5 * rng.standard_normal((IS_QUERIES // 4, IS_DIM))
        q = np.round(q, 6)
        topk.extend(_exact_topk(q, vecs[live], vec_id[live], IS_K))
        q_cycle.extend([c] * IS_QUERIES)
        q_id.extend(range(10**9 + c * IS_QUERIES, 10**9 + (c + 1) * IS_QUERIES))
        q_vec.extend(q)
        cand = pre_drift[~deleted[pre_drift]]
        d = rng.choice(cand, IS_DELETES, replace=False)
        deleted[d] = True
        del_cycle.extend([c] * len(d))
        del_id.extend(int(vec_id[j]) for j in d)
    # the driver holds the stream inputs in memory: one JSON file, read
    # without Spark so the first pass stays the session's first work
    def by(keys, rows, n):
        out = [[] for _ in range(n)]
        for k, r in zip(keys, rows):
            out[k].append(r)
        return out
    n_gate = IS_CYCLES * IS_GATE_BATCHES
    n_ann = IS_CYCLES * IS_ANN_BATCHES
    with open(os.path.join(out, "stream.json"), "w") as f:
        json.dump({
            "gate": by(rows_b, zip(rows_id, rows_t), n_gate),
            "retract": [[[d, texts[d]] for d in v] for v in retract],
            "ann": by(vec_b, zip(vec_id.tolist(), vecs.tolist()), n_ann),
            "queries": by(q_cycle, zip(q_id, np.array(q_vec).tolist()),
                          IS_CYCLES),
            "deletes": by(del_cycle, del_id, IS_CYCLES),
        }, f)
    truth = {
        "cycles": IS_CYCLES,
        "gate_batches": IS_GATE_BATCHES,
        "gate_docs": IS_GATE_DOCS,
        "batch_class": batch_class,
        "repeats": [list(r) for r in repeats],
        "retract": retract,
        "ann_batches": IS_ANN_BATCHES,
        "ann_vecs": IS_ANN_VECS,
        "drift_batch": IS_DRIFT_BATCH,
        "k": IS_K,
        "exact_topk": topk,
        "input_rows_per_cycle": IS_GATE_BATCHES * IS_GATE_DOCS
        + IS_ANN_BATCHES * IS_ANN_VECS + IS_QUERIES,
        "gate_text_bytes": int(sum(len(t.encode()) for t in rows_t)),
    }
    return truth


GENERATORS = {
    "lifecycle": gen_lifecycle,
    "index_stream": gen_index_stream,
}


def generate(workload, seed, out):
    """Write the inputs and truth.json of (workload, seed) into `out`."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    truth = GENERATORS[workload](seed, out)
    truth.update(workload=workload, seed=seed)
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
