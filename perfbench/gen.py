"""Seeded input generator.

    python3 perfbench/gen.py --seed <n> --docs <n> --out <dir>

Writes everything the program sees, as parquet under <dir>: the corpus
`documents.parquet` (doc_id, text, lang, source, n_chars) and the re-crawl
batch `recrawl.parquet`. Next to them it writes `queries.tsv` (the query
stream) and `counts.tsv`, the counts the oracle checks the program against,
computed here from the words this generator emitted, never from the program.

Rules, and why each exists:
  - Words are lowercase letters only, built from consonant-vowel
    syllables, so no letter repeats four times in a row. An all-digit token
    is dropped by the tokenizer, and a token that merely contains a digit
    drives `digit_ratio` up and zeroes the quality score, so digits would
    make the clean gate discard most of the corpus. A run of four equal
    letters is removed by the reference query filter but kept by the corpus
    tokenizer, so it would make the two sides disagree.
  - Words follow a Zipf law (exponent 1) over a fixed vocabulary whose head
    is the program's stopword list (TextAnalysis.Stopwords): queries then
    mix terms found in most documents with rare ones, the postings are
    skewed the way real text skews them, and the clean gate's stopword
    (language) test sees English-like ratios.
  - Document lengths are lognormal, as crawl document lengths are.
  - A planted share of documents are near-duplicates: copies of an earlier
    document with one to three words replaced. They give the MinHash-LSH
    stage real pairs and clusters to find.
  - A re-crawl batch mixes exact mirrors of corpus documents (the novelty
    gate must drop them), edited copies and new documents (it must keep
    both). Its expected survivors are written to the counts.
  - The corpus is written as FILES parquet files, so with the benchmark's
    split size its scan plans more partitions than the program's
    4-partition small-input guard, as a production corpus scan does.
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is"]  # TextAnalysis.Stopwords
FILES = 8
VOCAB = 30000
DUP_SHARE = 0.15
QUERIES = 400
SOURCES = [("news", 0.35), ("forum", 0.2), ("wiki", 0.15), ("blog", 0.1),
           ("books", 0.08), ("code", 0.06), ("legal", 0.04), ("patents", 0.02)]
CONSONANTS = "bcdfghjklmnprstvwz"
VOWELS = "aeiou"
BATCH_ID0 = 1_000_000


def vocabulary(rng, size):
    """Zipf-ranked words: the stopwords, then distinct generated words."""
    words = dict.fromkeys(STOPWORDS)
    while len(words) < size:
        n = 2 * (size - len(words))
        syll = rng.integers(1, 4, n).tolist()
        draws = rng.integers(0, 1 << 30, (n, 3, 3)).tolist()
        for k, d in zip(syll, draws):
            w = []
            for c1, v, c2 in d[:k]:
                w.append(CONSONANTS[c1 % len(CONSONANTS)] + VOWELS[v % len(VOWELS)])
                if c2 % 3 == 0:
                    w.append(CONSONANTS[(c2 // 3) % len(CONSONANTS)])
            words.setdefault("".join(w))
            if len(words) == size:
                break
    return list(words)


def corpus(seed, n_docs):
    """(vocab, docs, batch, novel ids, queries); a doc is (id, word ranks, source)."""
    rng = np.random.default_rng(seed)
    vocab = vocabulary(rng, VOCAB)
    cdf = np.cumsum(1.0 / np.arange(1, len(vocab) + 1))
    cdf /= cdf[-1]

    def words(n):
        return np.minimum(np.searchsorted(cdf, rng.random(n), side="right"), len(vocab) - 1)

    src_cdf = np.cumsum([p for _, p in SOURCES])

    def source():
        return SOURCES[int(np.searchsorted(src_cdf, rng.random() * src_cdf[-1], side="right"))][0]

    def fresh(i):
        n = int(np.clip(np.exp(np.log(110) + 0.6 * rng.standard_normal()), 12, 1500))
        return (i, words(n), source())

    def edited(of, i):
        w = of[1].copy()
        for _ in range(1 + rng.integers(3)):
            p = rng.integers(len(w))
            r = words(1)[0]
            while r == w[p]:
                r = words(1)[0]
            w[p] = r
        return (i, w, source())

    docs = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < DUP_SHARE:
            docs.append(edited(docs[rng.integers(i)], i))
        else:
            docs.append(fresh(i))
    # re-crawl batch: 40% mirrors, 30% edited copies, 30% new documents
    batch = []
    for k in range(max(20, n_docs // 20)):
        u = rng.random()
        if u < 0.4:
            batch.append((BATCH_ID0 + k, docs[rng.integers(n_docs)][1], source()))
        elif u < 0.7:
            batch.append(edited(docs[rng.integers(n_docs)], BATCH_ID0 + k))
        else:
            batch.append(fresh(BATCH_ID0 + k))
    texts = {d[1].tobytes() for d in docs}
    novel = [d[0] for d in batch if d[1].tobytes() not in texts]
    queries = [(" ".join(vocab[r] for r in words(1 + rng.integers(5))), i % 2 == 0)
               for i in range(QUERIES)]
    return vocab, docs, batch, novel, queries


def counts(vocab, docs, novel, queries):
    """The counts.tsv lines: totals, per-doc lengths, query-term postings."""
    index = {w: r for r, w in enumerate(vocab)}
    terms = sorted({index[t] for q, _ in queries for t in q.split(" ")})
    is_term = np.zeros(len(vocab), bool)
    is_term[terms] = True
    seen = np.zeros(len(vocab), bool)
    postings = {t: [] for t in terms}
    sum_df = 0
    for doc_id, w, _ in docs:
        ranks, tf = np.unique(w, return_counts=True)
        sum_df += len(ranks)
        seen[ranks] = True
        hit = is_term[ranks]
        for r, n in zip(ranks[hit].tolist(), tf[hit].tolist()):
            postings[r].append(f"{doc_id}:{n}")
    yield f"n_docs\t{len(docs)}"
    yield f"vocab\t{int(seen.sum())}"
    yield f"sum_df\t{sum_df}"
    yield f"sum_tf\t{sum(len(d[1]) for d in docs)}"
    yield "novel\t" + ",".join(map(str, sorted(novel)))
    yield "dl\t" + ",".join(f"{d[0]}:{len(d[1])}" for d in docs)
    for t in sorted(terms, key=lambda r: vocab[r]):
        yield f"term\t{vocab[t]}\t" + ",".join(postings[t])


def write(vocab, docs, batch, novel, queries, out):
    os.makedirs(out, exist_ok=True)

    words = np.array(vocab, dtype=object)

    def table(name, rows, files):
        d = os.path.join(out, f"{name}.parquet")
        os.makedirs(d)
        for f, part in enumerate(np.array_split(np.arange(len(rows)), files)):
            texts = [" ".join(words[rows[i][1]]) for i in part]
            pq.write_table(pa.table({
                "doc_id": pa.array([rows[i][0] for i in part], pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * len(part), pa.string()),
                "source": pa.array([rows[i][2] for i in part], pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int32()),
            }), os.path.join(d, f"part-{f:05d}.parquet"))

    table("documents", docs, FILES)
    table("recrawl", batch, 2)
    with open(os.path.join(out, "queries.tsv"), "w") as fh:
        for q, parity in queries:
            fh.write(f"{'parity' if parity else 'bm25'}\t{q}\n")
    with open(os.path.join(out, "counts.tsv"), "w") as fh:
        for line in counts(vocab, docs, novel, queries):
            fh.write(line + "\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--docs", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    vocab, docs, batch, novel, queries = corpus(a.seed, a.docs)
    write(vocab, docs, batch, novel, queries, a.out)


if __name__ == "__main__":
    main()
