"""Seeded input generator for the load benchmark.

    python3 loadbench/gen.py --workload <name> --seed <n> --out <dir>

Writes every input of one workload as JSON lines under <dir>, plus
sizes.json, which records the sizes and generator settings. The same seed
gives byte-identical files. The benchmark program reads only these files.

Text is drawn from a Zipf-distributed vocabulary of pronounceable
pseudo-words, so frequent terms share long posting lists and queries
share postings, as in real text.
"""

import argparse
import json
import os

import numpy as np

VOCAB = 4000          # distinct words
ZIPF_S = 1.07         # Zipf exponent over word ranks
DIM = 64              # dense vector dimension (the sf0.1 embeddings table's)
DOC_WORDS = (10, 100)             # words per document, uniform, as in sf0.1 documents

# Sizes follow the repository's own traffic: the tables its 161 queries run
# on (sf0.1, what graft.Bench times: documents 5,000 rows of 10-100 words,
# embeddings 2,000 dim-64 vectors; sf0.01, what the oracle gate checks:
# 500 rows of each) and the shapes of its batch queries.
# search_hybrid: the sf0.01 documents table, queried in batches of two as the
# q_hybrid_batch_rel, q_seismic_batch and q_ann_ivf_batch queries send them.
# (At sf0.1 one set-up alone takes about 47 s, 34 s of it the SEISMIC build.)
SEARCH_DOCS = 500
QUERY_BATCH = 2                   # queries per op
QUERY_BATCHES = 400
QUERY_TERMS = (2, 5)              # words per query
# dedup_stream: the sf0.1 documents and embeddings tables that the
# q_stream_dedup_* gates stream; the last 20% of each arrives in 10 batches
DEDUP_TEXT_DOCS = 5000
DEDUP_VECS = 2000
DEDUP_BATCHES = 10
DEDUP_ARRIVING = 0.2              # share of each table that arrives in batches
DUP_RATE = 0.2                    # share of each batch that is a planted near-duplicate
DUP_WITHIN = 0.5                  # share of planted duplicates whose source is in the same batch
TEXT_EDITS = 1                    # word substitutions per planted text duplicate
VEC_NOISE = 0.02                  # Gaussian noise (per coordinate) of a planted vector duplicate


def vocabulary(rng):
    onsets = ["b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r",
              "s", "t", "v", "w", "z", "br", "st", "tr", "pl", "gr", "sh", "ch"]
    vowels = ["a", "e", "i", "o", "u", "ai", "ou", "ea"]
    words, seen = [], set()
    while len(words) < VOCAB:
        n = int(rng.integers(1, 4))
        w = "".join(onsets[rng.integers(len(onsets))] + vowels[rng.integers(len(vowels))]
                    for _ in range(n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


class Text:
    def __init__(self, rng):
        self.rng = rng
        self.words = vocabulary(rng)
        p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
        self.cdf = np.cumsum(p / p.sum())

    def draw(self, n):
        idx = np.searchsorted(self.cdf, self.rng.random(n), side="right")
        return [self.words[min(i, VOCAB - 1)] for i in idx]

    def doc(self):
        return " ".join(self.draw(int(self.rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1))))

    def perturb(self, text):
        words = text.split(" ")
        for _ in range(TEXT_EDITS):
            words[int(self.rng.integers(len(words)))] = self.draw(1)[0]
        return " ".join(words)


def write_jsonl(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")))
            f.write("\n")


def write_vectors(path, ids, vecs):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for i in ids:
            f.write('{"vec_id":%d,"embedding":[%s]}\n'
                    % (i, ",".join("%.6f" % x for x in vecs[i])))


def gen_search(rng, out):
    t = Text(rng)
    docs = [{"doc_id": i, "text": t.doc()} for i in range(SEARCH_DOCS)]
    write_jsonl(f"{out}/corpus.jsonl", docs)
    queries = []
    for b in range(QUERY_BATCHES):
        for j in range(QUERY_BATCH):
            terms = t.draw(int(rng.integers(QUERY_TERMS[0], QUERY_TERMS[1] + 1)))
            queries.append({"batch": b, "query_id": b * QUERY_BATCH + j,
                            "text": " ".join(terms), "keywords": terms[:2]})
    write_jsonl(f"{out}/queries.jsonl", queries)
    return {"corpus_docs": SEARCH_DOCS, "doc_words": list(DOC_WORDS),
            "query_batch": QUERY_BATCH, "query_batches": QUERY_BATCHES,
            "query_words": list(QUERY_TERMS)}


def unit(v):
    return v / np.linalg.norm(v)


def planted_stream(rng, total, fresh, perturb):
    """`total` items: a base, then DEDUP_BATCHES equal batches. DUP_RATE of
    each batch are perturbed copies of a fresh item of the same batch (a
    DUP_WITHIN share) or of any earlier item."""
    n_batch = int(round(total * DEDUP_ARRIVING / DEDUP_BATCHES))
    n_dup = int(round(n_batch * DUP_RATE))
    n_fresh = n_batch - n_dup
    items = [fresh() for _ in range(total - DEDUP_BATCHES * n_batch)]
    batches, planted = [], []
    for b in range(DEDUP_BATCHES):
        first = len(items)
        items += [fresh() for _ in range(n_fresh)]
        for _ in range(n_dup):
            if rng.random() < DUP_WITHIN:
                src = first + int(rng.integers(n_fresh))
            else:
                src = int(rng.integers(first))
            planted.append({"batch": b, "id": len(items), "src": src})
            items.append(perturb(items[src]))
        batches.append(range(first, len(items)))
    return items, batches, planted


def gen_dedup(rng, out):
    t = Text(rng)
    texts, text_batches, text_planted = planted_stream(rng, DEDUP_TEXT_DOCS, t.doc, t.perturb)
    base = range(text_batches[0].start)
    write_jsonl(f"{out}/base_text.jsonl", [{"doc_id": i, "text": texts[i]} for i in base])
    for b, ids in enumerate(text_batches):
        write_jsonl(f"{out}/text/batch_{b:05d}.jsonl",
                    [{"doc_id": i, "text": texts[i]} for i in ids])
    write_jsonl(f"{out}/planted_text.jsonl", text_planted)

    vecs, vec_batches, vec_planted = planted_stream(
        rng, DEDUP_VECS, lambda: unit(rng.standard_normal(DIM)),
        lambda v: unit(v + VEC_NOISE * rng.standard_normal(DIM)))
    write_vectors(f"{out}/base_vec.jsonl", range(vec_batches[0].start), vecs)
    for b, ids in enumerate(vec_batches):
        write_vectors(f"{out}/vec/batch_{b:05d}.jsonl", ids, vecs)
    write_jsonl(f"{out}/planted_vec.jsonl", vec_planted)
    return {"text_docs": DEDUP_TEXT_DOCS, "text_base_docs": text_batches[0].start,
            "text_batch_docs": len(text_batches[0]), "vectors": DEDUP_VECS,
            "vec_base": vec_batches[0].start, "vec_batch": len(vec_batches[0]),
            "batches": DEDUP_BATCHES, "doc_words": list(DOC_WORDS), "dim": DIM,
            "dup_rate": DUP_RATE, "dup_within_batch": DUP_WITHIN,
            "text_word_edits": TEXT_EDITS, "vec_noise": VEC_NOISE}


GENERATORS = {"search_hybrid": gen_search, "dedup_stream": gen_dedup}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    rng = np.random.default_rng(a.seed)
    sizes = GENERATORS[a.workload](rng, a.out)
    sizes.update({"vocab": VOCAB, "zipf_s": ZIPF_S, "seed": a.seed})
    with open(f"{a.out}/sizes.json", "w") as f:
        json.dump(sizes, f, sort_keys=True)


if __name__ == "__main__":
    main()
