"""The three workloads: the inputs each one writes into the work dir,
and the checks of the answers the program gave.

ingest_serve     closed loop, one client: upload a zip over HTTP, poll the
                 job to PARSED, then a fixed burst of reads
graph_analytics  closed loop, one thread: seven graph calls per pass
stream_ingest    open loop: files renamed into a watched maildir at a
                 fixed rate while streamIngest drains them

Each `generate` keeps the expected answers in memory; `check` takes the
observation lines of the JVM side and returns (operations attempted,
problems), one problem per operation that failed or answered wrongly.
"""

import datetime
import os
import random

import gen

POLL_MS = 250            # status poll interval of the ingest client
STREAM_RATE = 3.0        # files per second fed to stream_ingest
BASE_MESSAGES = 150      # unique messages in each workload's base store
WARM_MESSAGES = 20       # new messages in the set-up's warm-up batch
UPLOAD_MESSAGES = 30     # new unique messages per uploaded zip
GRAPH_ORDERS = 2500      # orders in the generated lineitem table
GRAPH_PARTS = 1500


def _fmt(d):
    return d.strftime("%Y-%m-%d %H:%M:%S")


class Reads:
    """A read plan with the expected answer of every read."""

    def __init__(self):
        self.rows = []      # (cycle, kind, a, b)
        self.expected = []  # per row: ("key", subject, mailboxes) | ("count", n)

    def burst(self, c, cycle, rng, lookups, listings_each, recent=()):
        keys = list(c.docs)
        picks = [k for k in recent if k in c.docs][:lookups // 2]
        picks += rng.sample(keys, lookups - len(picks))
        for k in picks:
            d = c.docs[k]
            self._add(cycle, "key", k, "", ("key", d.subject,
                      sorted("/".join(m) for m in d.mailboxes)))
        for _ in range(listings_each):
            u = rng.choice(c.users)
            f = rng.choice(c.folders[u])
            self._add(cycle, "mailbox", u, f, ("count", sum(
                1 for d in c.docs.values()
                if any(m[0] == u and m[1] == f for m in d.mailboxes))))
            a = rng.choice(c.everyone)
            self._add(cycle, "sender", a, "", ("count", sum(
                1 for d in c.docs.values() if d.sender == a)))
            a = rng.choice(c.everyone)
            self._add(cycle, "recipient", a, "", ("count", sum(
                1 for d in c.docs.values() if a in d.to)))
            lo = datetime.datetime(gen.YEAR, rng.randrange(gen.MONTHS) + 1,
                                   rng.randrange(18) + 1)
            hi = lo + datetime.timedelta(days=10)
            self._add(cycle, "range", _fmt(lo), _fmt(hi), ("count", sum(
                1 for d in c.docs.values() if lo <= d.date < hi)))

    def _add(self, cycle, kind, a, b, exp):
        self.rows.append((cycle, kind, a, b))
        self.expected.append(exp)

    def write(self, path):
        with open(path, "w") as f:
            for r in self.rows:
                f.write("\t".join(str(x) for x in r) + "\n")

    def check(self, obs_reads):
        """Match observed reads to the plan in order; returns failures."""
        problems = []
        by_cycle = {}
        for i, r in enumerate(self.rows):
            by_cycle.setdefault(r[0], []).append(i)
        seen = {}
        for o in obs_reads:
            idx = by_cycle.get(o["cycle"], [])
            j = seen.get(o["cycle"], 0)
            seen[o["cycle"]] = j + 1
            if j >= len(idx):
                problems.append("unplanned read %s" % o)
                continue
            exp = self.expected[idx[j]]
            if exp[0] == "key":
                got = (o["rows"], o.get("subject"), sorted(o.get("mailboxes")))
                if got != (1, exp[1], exp[2]):
                    problems.append("lookup %s: got %s, want %s" % (
                        o["a"], got, (1, exp[1], exp[2])))
            elif o["rows"] != exp[1]:
                problems.append("%s %s %s: %d rows, want %d" % (
                    o["kind"], o["a"], o["b"], o["rows"], exp[1]))
        return problems


def _graph_inputs(c, work, name, seed):
    """Write the lineitem table for g94/g102; return the answers every
    graph pass over `c`'s store must give."""
    rows = gen.lineitems(random.Random("%s:tpch:%d" % (name, seed)),
                         GRAPH_ORDERS, GRAPH_PARTS)
    with open(os.path.join(work, "lineitem.csv"), "w") as f:
        f.writelines("%d,%d,%d\n" % r for r in rows)
    verts, comps = c.comm_graph()
    cp_verts, cp_comps, cp_sum, _ = gen.copurchase(rows)
    return {
        "edges": c.typed_edge_count(),
        "threads": c.threads(), "thread_rows": len(c.docs),
        "cc_vertices": verts, "cc_components": comps, "cc_agree": True,
        "pagerank_rows": verts, "g94_rows": cp_verts,
        "g102_rows": cp_verts, "g102_components": cp_comps,
        "g102_component_sum": cp_sum,
    }


def _check_passes(expected, passes):
    problems = []
    for p in passes:
        bad = {k: (p.get(k), v) for k, v in expected.items()
               if p.get(k) != v}
        if bad:
            problems.append("pass %d: %s" % (p["pass"], bad))
    return problems


def _base(c, work):
    """The base maildir every workload's store starts from, and the
    warm-up batch the set-up merges into it (through an upload on
    ingest_serve), so the loop's first upsert is not the first one into
    a non-empty store."""
    files = c.batch(BASE_MESSAGES, copies=True, redeliver=False)
    c.apply(files)
    gen.write_tree(os.path.join(work, "base"), files)
    warm = c.batch(WARM_MESSAGES)
    c.apply(warm)
    gen.write_tree(os.path.join(work, "warm"), warm)
    with open(os.path.join(work, "warm.zip"), "wb") as f:
        f.write(gen.zip_bytes(warm))


class IngestServe:
    name = "ingest_serve"

    def generate(self, work, seed, seconds):
        c = self.c = gen.Corpus(self.name, seed, gen.Params())
        _base(c, work)
        rng = random.Random("%s:reads:%d" % (self.name, seed))
        self.reads = Reads()
        self.files, self.unique_bytes = [], []
        os.makedirs(os.path.join(work, "uploads"))
        # more zips than the loop can use in `seconds`; it stops early
        # (and says so) if they run out
        for k in range(int(seconds) + 10):
            files = c.batch(UPLOAD_MESSAGES)
            with open(os.path.join(work, "uploads", "%04d.zip" % k), "wb") as f:
                f.write(gen.zip_bytes(files))
            c.apply(files)
            self.files.append(len(files))
            self.unique_bytes.append(c.unique_bytes())
            recent = [gen.key_of(x[3]) for x in files]
            self.reads.burst(c, k, rng, 16, 4,
                             recent=[recent[0], recent[-1]])
        self.reads.write(os.path.join(work, "reads.tsv"))

    def check(self, obs):
        problems = ["job %d ended %s" % (j["cycle"], j["status"])
                    for j in obs["job"] if j["status"] != "PARSED"]
        problems += self.reads.check(obs["read"])
        return len(obs["job"]) + len(obs["read"]), problems

    def input_bytes(self, obs):
        return self.unique_bytes[len(obs["job"]) - 1] if obs["job"] else None


class GraphAnalytics:
    name = "graph_analytics"

    def generate(self, work, seed, seconds):
        c = self.c = gen.Corpus(self.name, seed,
                                gen.Params(reply_share=1.0 / 3))
        _base(c, work)
        self.graph = _graph_inputs(c, work, self.name, seed)
        self.reads = Reads()
        self.reads.burst(c, -1, random.Random("%s:reads:%d" % (
            self.name, seed)), 8, 2)
        self.reads.write(os.path.join(work, "reads.tsv"))

    def check(self, obs):
        problems = _check_passes(self.graph, obs["pass"])
        problems += self.reads.check(obs["read"])
        return len(obs["pass"]) + len(obs["read"]), problems

    def input_bytes(self, obs):
        return self.c.unique_bytes()


class StreamIngest:
    name = "stream_ingest"

    def generate(self, work, seed, seconds):
        c = self.c = gen.Corpus(self.name, seed,
                                gen.Params(reply_share=1.0 / 3))
        _base(c, work)
        stored = sorted(c.docs)
        src = os.path.join(work, "stream_src")
        os.makedirs(src)
        self.paths = []
        with open(os.path.join(work, "stream.tsv"), "w") as plan:
            for i in range(int(round(STREAM_RATE * seconds))):
                f = c.stream_file(stored)
                c.apply([f])
                with open(os.path.join(src, str(i)), "wb") as fh:
                    fh.write(f[3])
                plan.write("%d\t%s\t%s\t%s\n" % ((i,) + f[:3]))
                self.paths.append((gen.key_of(f[3]), "/".join(f[:3])))
        # the traced run also times the graph layer over the drained store
        self.graph = _graph_inputs(c, work, self.name, seed)
        self.reads = Reads()
        self.reads.burst(c, -1, random.Random("%s:reads:%d" % (
            self.name, seed)), 20, 5)
        self.reads.write(os.path.join(work, "reads.tsv"))

    def check(self, obs):
        problems = []
        docs = {d["key"]: d for d in obs["doc"]}
        for f in obs["file"]:
            key, slot = self.paths[f["i"]]
            if f["commit_ms"] is None:
                problems.append("file %d never committed" % f["i"])
            elif slot not in docs.get(key, {}).get("mailboxes", ()):
                problems.append("file %d (%s) missing from %s" % (
                    f["i"], slot, key))
        # the drained store must equal the expected one exactly
        want = {k: (d.subject, sorted("/".join(m) for m in d.mailboxes))
                for k, d in self.c.docs.items()}
        got = {k: (d["subject"], sorted(d["mailboxes"]))
               for k, d in docs.items()}
        bad = sorted(k for k in set(got) | set(want)
                     if got.get(k) != want.get(k))
        if bad:
            problems.append("store after drain: %d keys differ, e.g. %s" % (
                len(bad), bad[:3]))
        problems += _check_passes(self.graph, obs["pass"])
        problems += self.reads.check(obs["read"])
        return (len(obs["file"]) + 1 + len(obs["pass"]) + len(obs["read"]),
                problems)

    def input_bytes(self, obs):
        return self.c.unique_bytes()


WORKLOADS = {w.name: w for w in (IngestServe, GraphAnalytics, StreamIngest)}
