"""The answer checks: a program that returns exactly the generator's
answers passes, and each corrupted expected answer counts as a failed
operation."""

import copy
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)


def make(name):
    wl = workloads.WORKLOADS[name]()
    with tempfile.TemporaryDirectory(prefix=".bench_test_", dir=ROOT) as d:
        wl.generate(d, 3, 2)
    return wl


def reads_as_observed(reads, cycles):
    """The read lines a correct program would produce."""
    out = []
    for (cycle, kind, a, b), exp in zip(reads.rows, reads.expected):
        if cycle not in cycles:
            continue
        o = {"cycle": cycle, "kind": kind, "a": a, "b": b}
        if exp[0] == "key":
            o.update(rows=1, subject=exp[1], mailboxes=list(exp[2]))
        else:
            o.update(rows=exp[1])
        out.append(o)
    return out


class IngestServeCheck(unittest.TestCase):
    def setUp(self):
        self.wl = make("ingest_serve")
        self.obs = {
            "job": [{"cycle": c, "status": "PARSED"} for c in (0, 1)],
            "read": reads_as_observed(self.wl.reads, (0, 1)),
        }

    def test_correct_answers_pass(self):
        attempted, problems = self.wl.check(self.obs)
        self.assertEqual(problems, [])
        self.assertEqual(attempted, 2 + len(self.obs["read"]))

    def test_corrupted_lookup_answer_fails(self):
        i = next(i for i, e in enumerate(self.wl.reads.expected)
                 if e[0] == "key")
        self.wl.reads.expected[i] = ("key", "not the subject",
                                     self.wl.reads.expected[i][2])
        self.assertEqual(len(self.wl.check(self.obs)[1]), 1)

    def test_corrupted_listing_count_fails(self):
        i = next(i for i, e in enumerate(self.wl.reads.expected)
                 if e[0] == "count")
        self.wl.reads.expected[i] = ("count", self.wl.reads.expected[i][1] + 1)
        self.assertEqual(len(self.wl.check(self.obs)[1]), 1)

    def test_job_not_parsed_fails(self):
        self.obs["job"][1]["status"] = "FAILED"
        self.assertEqual(len(self.wl.check(self.obs)[1]), 1)


class StreamIngestCheck(unittest.TestCase):
    def setUp(self):
        self.wl = make("stream_ingest")
        c = self.wl.c
        self.obs = {
            "file": [{"i": i, "commit_ms": 1} for i in range(len(self.wl.paths))],
            "doc": [{"key": k, "subject": d.subject,
                     "mailboxes": ["/".join(m) for m in d.mailboxes]}
                    for k, d in c.docs.items()],
            "pass": [dict(self.wl.graph, **{"pass": 0})],
            "read": reads_as_observed(self.wl.reads, (-1,)),
        }

    def test_correct_answers_pass(self):
        self.assertEqual(self.wl.check(self.obs)[1], [])

    def test_uncommitted_file_fails(self):
        self.obs["file"][0]["commit_ms"] = None
        self.assertEqual(len(self.wl.check(self.obs)[1]), 1)

    def test_corrupted_store_answer_fails(self):
        key = next(iter(self.wl.c.docs))
        self.wl.c.docs[key] = copy.deepcopy(self.wl.c.docs[key])
        self.wl.c.docs[key].subject = "wrong"
        problems = self.wl.check(self.obs)[1]
        self.assertEqual(len(problems), 1)
        self.assertIn("store after drain", problems[0])

    def test_corrupted_graph_answer_fails(self):
        self.wl.graph["threads"] += 1
        self.assertEqual(len(self.wl.check(self.obs)[1]), 1)


class GraphAnalyticsCheck(unittest.TestCase):
    def test_components_must_agree(self):
        wl = make("graph_analytics")
        good = dict(wl.graph, **{"pass": 0})
        obs = {"pass": [good, dict(good, cc_agree=False, **{"pass": 1})],
               "read": reads_as_observed(wl.reads, (-1,))}
        attempted, problems = wl.check(obs)
        self.assertEqual(attempted, 2 + len(obs["read"]))
        self.assertEqual(len(problems), 1)
        self.assertIn("cc_agree", problems[0])


if __name__ == "__main__":
    unittest.main()
