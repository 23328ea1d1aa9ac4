"""Seeded corpus generator for the benchmark.

Everything the program receives is made here from the seed: maildir
trees, upload zips, the stream schedule, a small lineitem table and the
read plans. Alongside the inputs the generator keeps the answers the
program must give: the merged store (one row per unique key, with the
first writer's fields and the union of its mailboxes), thread and
component counts from its own union-find, and listing counts.

The same (workload, seed) always yields identical bytes; nothing here
reads the clock or the environment.
"""

import base64
import datetime
import hashlib
import io
import os
import random
import zipfile
from dataclasses import dataclass, field

YEAR = 2023
MONTHS = 12
FOLDERS = ("inbox", "sent_items", "archive", "projects", "notes")
WORDS = (
    "budget forecast meeting review contract pipeline gas power trade "
    "desk schedule quarter report draft legal credit risk curve deal "
    "invoice storage transport memo update call notes plan hedge price "
    "volume option swap confirm settle audit board market west east "
    "north south team weekly daily agenda summary question answer follow"
).split()
WEEKDAYS = ("Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun")
MONTH_NAMES = ("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug",
               "Sep", "Oct", "Nov", "Dec")


@dataclass(frozen=True)
class Params:
    """Corpus shape; every share is a probability per generated file."""
    users: int = 8
    folders_per_user: int = 4
    externals: int = 40
    copy_share: float = 0.25        # cross-mailbox copies (same bytes)
    redelivery_share: float = 0.10  # stored key, rewritten subject
    reply_share: float = 0.0        # messages carrying In-Reply-To
    multipart_share: float = 0.2
    body_mu: float = 6.0            # lognormal body length (chars)
    body_sigma: float = 0.5


@dataclass
class Message:
    key: str
    date: datetime.datetime
    sender: str
    to: tuple
    cc: tuple
    subject: str
    reply_to: str = ""
    multipart: bool = False
    body: str = ""


@dataclass
class Doc:
    """Expected store row: first-writer fields plus merged mailboxes."""
    subject: str
    date: datetime.datetime
    sender: str
    to: tuple
    cc: tuple
    nbytes: int
    mailboxes: set = field(default_factory=set)


def rfc_date(d):
    return "%s, %d %s %d %02d:%02d:%02d +0000" % (
        WEEKDAYS[d.weekday()], d.day, MONTH_NAMES[d.month - 1], d.year,
        d.hour, d.minute, d.second)


def render(m, subject=None):
    """RFC 822 bytes of `m`; `subject` overrides it for redeliveries."""
    head = [
        "Message-ID: %s" % m.key,
        "Date: %s" % rfc_date(m.date),
        "From: %s" % m.sender,
        "To: %s" % ", ".join(m.to),
    ]
    if m.cc:
        head.append("Cc: %s" % ", ".join(m.cc))
    head.append("Subject: %s" % (m.subject if subject is None else subject))
    if m.reply_to:
        head.append("In-Reply-To: %s" % m.reply_to)
    head.append("MIME-Version: 1.0")
    if not m.multipart:
        head += ["Content-Type: text/plain; charset=utf-8",
                 "Content-Transfer-Encoding: 7bit", "", m.body, ""]
        return "\r\n".join(head).encode("utf-8")
    boundary = "b_" + hashlib.sha1(m.key.encode()).hexdigest()[:16]
    attach = hashlib.sha256(m.key.encode()).hexdigest() * 4
    payload = base64.b64encode(attach.encode()).decode()
    head += [
        'Content-Type: multipart/mixed; boundary="%s"' % boundary, "",
        "--" + boundary,
        "Content-Type: text/plain; charset=utf-8", "", m.body,
        "--" + boundary,
        "Content-Type: application/octet-stream",
        "Content-Transfer-Encoding: base64",
        'Content-Disposition: attachment; filename="sheet.bin"', "",
        payload,
        "--" + boundary + "--", ""]
    return "\r\n".join(head).encode("utf-8")


class Corpus:
    """Seeded message factory plus the expected merged store."""

    def __init__(self, workload, seed, params):
        self.rng = random.Random("%s:%d" % (workload, seed))
        self.tag = "%s.%d" % (workload, seed)
        self.p = params
        self.users = ["user%02d" % i for i in range(params.users)]
        self.folders = {u: list(FOLDERS[:params.folders_per_user])
                        for u in self.users}
        self.addr = {u: "%s@corp.example" % u for u in self.users}
        self.externals = ["ext%03d@partner.example" % i
                          for i in range(params.externals)]
        self.everyone = [self.addr[u] for u in self.users] + self.externals
        self.messages = {}     # key -> Message
        self.order = []        # keys in creation order
        self.docs = {}         # expected store: key -> Doc
        self.file_seq = 0

    # -------------------------------------------------------- messages

    def _body(self):
        n = int(min(6000, max(60, self.rng.lognormvariate(
            self.p.body_mu, self.p.body_sigma))))
        out, size = [], 0
        while size < n:
            w = self.rng.choice(WORDS)
            out.append(w)
            size += len(w) + 1
        lines = [" ".join(out[i:i + 12]) for i in range(0, len(out), 12)]
        return "\r\n".join(lines)

    def new_message(self):
        r = self.rng
        n = len(self.order)
        month = r.randrange(MONTHS) + 1
        date = datetime.datetime(YEAR, month, r.randrange(28) + 1,
                                 r.randrange(24), r.randrange(60),
                                 r.randrange(60))
        sender = r.choice(self.everyone)
        pool = [a for a in self.everyone if a != sender]
        to = tuple(r.sample(pool, r.randrange(1, 4)))
        cc = tuple(r.sample([a for a in pool if a not in to],
                            r.randrange(0, 3)))
        reply_to = ""
        if self.order and r.random() < self.p.reply_share:
            # replies attach to a recent message, so threads form chains
            reply_to = self.order[max(0, n - 1 - r.randrange(40))]
        subject = " ".join(r.choice(WORDS) for _ in range(r.randrange(2, 6)))
        m = Message(key="<%s.%d@bench.example>" % (self.tag, n), date=date,
                    sender=sender, to=to, cc=cc, subject=subject,
                    reply_to=reply_to,
                    multipart=r.random() < self.p.multipart_share,
                    body=self._body())
        self.messages[m.key] = m
        self.order.append(m.key)
        return m

    def slot(self):
        """A fresh (user, folder, filename) position."""
        u = self.rng.choice(self.users)
        f = self.rng.choice(self.folders[u])
        self.file_seq += 1
        return u, f, "%d." % self.file_seq

    def batch(self, n_new, copies=True, redeliver=True):
        """One ingest batch: `n_new` new messages plus cross-mailbox
        copies of them and redeliveries of already-stored keys. Returns
        [(user, folder, filename, bytes)]. Keys stored before the batch
        keep their fields (first writer wins across runs), so a
        redelivery changes only the mailbox set."""
        r = self.rng
        stored = list(self.docs)
        files = []
        fresh = [self.new_message() for _ in range(n_new)]
        for m in fresh:
            files.append(self.slot() + (render(m),))
        if copies:
            for _ in range(int(round(n_new * self.p.copy_share))):
                m = r.choice(fresh)
                files.append(self.slot() + (render(m),))
        if redeliver and stored:
            k = min(len(stored), int(round(n_new * self.p.redelivery_share)))
            for key in r.sample(stored, k):
                m = self.messages[key]
                files.append(self.slot() +
                             (render(m, subject="Fwd: " + m.subject),))
        return files

    def stream_file(self, stored):
        """One file of the stream: a new message, a copy of an earlier
        one, or a redelivery of a key from `stored` (keys already in the
        store before the stream starts, so the stored subject wins
        whichever micro-batch the redelivery lands in)."""
        r = self.rng
        x = r.random()
        if self.order and x < self.p.copy_share:
            m = self.messages[r.choice(self.order)]
            data = render(m)
        elif stored and x < self.p.copy_share + self.p.redelivery_share:
            m = self.messages[r.choice(stored)]
            data = render(m, subject="Fwd: " + m.subject)
        else:
            data = render(self.new_message())
        return self.slot() + (data,)

    # ------------------------------------------------- expected answers

    def apply(self, files):
        """Merge a batch into the expected store. Within a batch every
        copy of a new key carries identical bytes, so which file the
        program picks as first writer cannot change the answer."""
        for user, folder, fname, data in files:
            key = key_of(data)
            m = self.messages[key]
            d = self.docs.get(key)
            if d is None:
                d = self.docs[key] = Doc(m.subject, m.date, m.sender, m.to,
                                         m.cc, len(render(m)))
            d.mailboxes.add((user, folder, fname))

    def threads(self):
        """Reply-chain components among stored messages."""
        uf = UnionFind(self.docs)
        for k in self.docs:
            rt = self.messages[k].reply_to
            if rt and rt in self.docs:
                uf.union(k, rt)
        return uf.count()

    def comm_graph(self):
        """(vertex count, component count) of the address graph:
        sender -> every recipient, over stored messages."""
        edges = [(d.sender, a) for d in self.docs.values()
                 for a in set(d.to) | set(d.cc)]
        verts = {v for e in edges for v in e}
        uf = UnionFind(verts)
        for a, b in edges:
            uf.union(a, b)
        return len(verts), uf.count()

    def typed_edge_count(self):
        """Rows of EmailGraph.edges: distinct user->folder and
        folder->message containment, one sent edge per message, distinct
        message->recipient edges."""
        user_folder, folder_msg, received = set(), set(), 0
        for k, d in self.docs.items():
            for u, f, _ in d.mailboxes:
                user_folder.add((u, f))
                folder_msg.add((u, f, k))
            received += len(set(d.to) | set(d.cc))
        return len(user_folder) + len(folder_msg) + len(self.docs) + received

    def unique_bytes(self):
        return sum(d.nbytes for d in self.docs.values())


def key_of(data):
    head = data.split(b"\r\n", 1)[0].decode()
    assert head.startswith("Message-ID: ")
    return head[len("Message-ID: "):]


class UnionFind:
    def __init__(self, items):
        self.parent = {x: x for x in items}

    def find(self, x):
        while self.parent[x] != x:
            self.parent[x] = self.parent[self.parent[x]]
            x = self.parent[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)

    def count(self):
        return sum(1 for x in self.parent if self.find(x) == x)

    def components(self):
        """item -> smallest item of its component."""
        return {x: self.find(x) for x in self.parent}


# ------------------------------------------------------------- writing

def write_tree(root, files):
    for user, folder, fname, data in files:
        d = os.path.join(root, user, folder)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, fname), "wb") as f:
            f.write(data)


def zip_bytes(files):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for user, folder, fname, data in files:
            info = zipfile.ZipInfo("%s/%s/%s" % (user, folder, fname),
                                   date_time=(2023, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, data)
    return buf.getvalue()


def lineitems(rng, orders, parts):
    """TPC-H-shaped (l_orderkey, l_partkey, l_quantity) rows. A share of
    items carry quantity >= 48, which is what makes a co-purchase edge."""
    rows = []
    for o in range(1, orders + 1):
        for _ in range(rng.randrange(1, 6)):
            part = 1 + int(parts * rng.random() ** 1.6)
            qty = rng.randrange(48, 51) if rng.random() < 0.3 \
                else rng.randrange(1, 48)
            rows.append((o, min(part, parts), qty))
    return rows


def copurchase(rows):
    """(vertex count, component count, sum of component ids, edge
    count) of the graph g94/g102 build: distinct part pairs p1 < p2
    sharing an order, both at quantity >= 48."""
    by_order = {}
    for o, p, q in rows:
        if q >= 48:
            by_order.setdefault(o, set()).add(p)
    edges = set()
    for ps in by_order.values():
        ps = sorted(ps)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                edges.add((ps[i], ps[j]))
    verts = {v for e in edges for v in e}
    uf = UnionFind(verts)
    for a, b in edges:
        uf.union(a, b)
    comp = uf.components()
    return len(verts), uf.count(), sum(comp.values()), len(edges)
