import hashlib
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen        # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)


def tree_digest(root):
    """Hash of every file's relative path and bytes under `root`."""
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generated(workload, seed):
    with tempfile.TemporaryDirectory(prefix=".bench_test_", dir=ROOT) as d:
        workloads.WORKLOADS[workload]().generate(d, seed, 4)
        return tree_digest(d)


class SeedTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for w in workloads.WORKLOADS:
            with self.subTest(workload=w):
                self.assertEqual(generated(w, 7), generated(w, 7))

    def test_other_seed_other_bytes(self):
        for w in workloads.WORKLOADS:
            with self.subTest(workload=w):
                self.assertNotEqual(generated(w, 7), generated(w, 8))


class CorpusTest(unittest.TestCase):
    def corpus(self, **kw):
        return gen.Corpus("t", 1, gen.Params(**kw))

    def test_copies_merge_mailboxes_and_keep_first_subject(self):
        c = self.corpus()
        c.apply(c.batch(20, redeliver=False))
        c.apply(c.batch(20))
        keys = [k for k, d in c.docs.items() if len(d.mailboxes) > 1]
        self.assertTrue(keys)
        for k in keys:
            self.assertEqual(c.docs[k].subject, c.messages[k].subject)

    def test_redelivery_rewrites_subject_in_the_file_only(self):
        c = self.corpus(redelivery_share=1.0)
        c.apply(c.batch(10, redeliver=False))
        files = c.batch(10)
        redelivered = [f for f in files if b"Subject: Fwd: " in f[3]]
        self.assertEqual(len(redelivered), 10)
        c.apply(files)
        for f in redelivered:
            k = gen.key_of(f[3])
            self.assertFalse(c.docs[k].subject.startswith("Fwd: "))
            self.assertIn(tuple(f[:3]), c.docs[k].mailboxes)

    def test_threads_follow_reply_chains(self):
        c = self.corpus(reply_share=0.0)
        c.apply(c.batch(5, copies=False, redeliver=False))
        self.assertEqual(c.threads(), 5)
        keys = list(c.docs)
        c.messages[keys[1]].reply_to = keys[0]
        c.messages[keys[2]].reply_to = keys[1]
        c.messages[keys[4]].reply_to = "<not-stored@x>"
        self.assertEqual(c.threads(), 3)

    def test_copurchase_components(self):
        rows = [(1, 1, 50), (1, 2, 49), (2, 2, 48), (2, 3, 48),
                (3, 7, 50), (3, 8, 50), (4, 9, 50), (4, 10, 1)]
        # edges 1-2, 2-3, 7-8; part 9's order has no second hot part
        self.assertEqual(gen.copurchase(rows), (5, 2, 1 + 1 + 1 + 7 + 7, 3))


if __name__ == "__main__":
    unittest.main()
