"""Self-tests for the generator's rules and the counts it hands the oracle.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import re
import tempfile
import unittest

import numpy as np

import gen


class GenTest(unittest.TestCase):

    def test_counts_of_a_hand_built_corpus(self):
        # apple=0 banana=1 cherry=2; df 2 each, Σdf 6, Σtf 9
        vocab = ["apple", "banana", "cherry", "durian"]
        docs = [(0, np.array([0, 1, 0]), "news"), (1, np.array([1, 2]), "news"),
                (2, np.array([0, 2, 2, 2]), "wiki")]
        lines = list(gen.counts(vocab, docs, [11], [("apple cherry", True), ("banana", False)]))
        self.assertEqual(lines, [
            "n_docs\t3", "vocab\t3", "sum_df\t6", "sum_tf\t9", "novel\t11",
            "dl\t0:3,1:2,2:4",
            "term\tapple\t0:2,2:1", "term\tbanana\t0:1,1:1", "term\tcherry\t1:1,2:3"])

    def test_words_keep_the_rules(self):
        vocab = gen.vocabulary(np.random.default_rng(7), 5000)
        self.assertEqual(vocab[:7], gen.STOPWORDS)
        self.assertEqual(len(set(vocab)), len(vocab))
        for w in vocab:
            self.assertRegex(w, r"^[a-z]+$")
            self.assertIsNone(re.search(r"(.)\1{3}", w), w)

    def test_inputs_are_a_function_of_the_seed(self):
        def texts(seed):
            vocab, docs, batch, novel, queries = gen.corpus(seed, 300)
            return [d[1].tolist() for d in docs], novel, queries
        self.assertEqual(texts(3), texts(3))
        self.assertNotEqual(texts(3), texts(4))

    def test_novel_ids_are_the_batch_documents_not_in_the_corpus(self):
        vocab, docs, batch, novel, queries = gen.corpus(5, 400)
        corpus = {d[1].tobytes() for d in docs}
        self.assertTrue(0 < len(novel) < len(batch))
        for doc_id, words, _ in batch:
            self.assertEqual(doc_id in novel, words.tobytes() not in corpus)

    def test_written_tables(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            out = os.path.join(d, "in")
            gen.write(*gen.corpus(1, 200), out)
            files = sorted(os.listdir(os.path.join(out, "documents.parquet")))
            self.assertEqual(len(files), gen.FILES)
            t = pq.read_table(os.path.join(out, "documents.parquet"))
            self.assertEqual(t.column_names, ["doc_id", "text", "lang", "source", "n_chars"])
            self.assertEqual(t.num_rows, 200)
            self.assertEqual(t.column("doc_id").to_pylist(), list(range(200)))


if __name__ == "__main__":
    unittest.main()
