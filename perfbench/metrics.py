"""Metrics from the JVM side's observation lines.

End-to-end metrics are named the same on every workload; what the
workload's headline operation is (`op_*`, and the wall-clock latencies
on the report lines) differs:

    ingest_serve     one upload, from sending the POST to seeing PARSED
    graph_analytics  one pass of the seven graph calls
    stream_ingest    one file, from its due time to the commit of the
                     micro-batch that held it

Per-layer metrics of a layer that does no work on a workload read 0.
"""

import json

from stats import describe, median

SPANS = ("ingest_job", "poll", "lookup", "listing", "graph_pass",
         "stream_batch")
SPARK_FIELDS = ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
                "shuffle_mb", "catalyst_ms", "core_util")
GRAPH_CALLS = ("edges", "threads", "cc_graphx", "cc_lss", "pagerank",
               "g94_pagerank", "g102_cc")
PROGRESS_PARTS = (("trigger_ms", "triggerExecution"),
                  ("latest_offset_ms", "latestOffset"),
                  ("get_batch_ms", "getBatch"),
                  ("query_planning_ms", "queryPlanning"),
                  ("add_batch_ms", "addBatch"),
                  ("wal_commit_ms", "walCommit"),
                  ("commit_offsets_ms", "commitOffsets"))


def declared(path, section):
    with open(path) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[section]]


def _med(xs, default=0.0):
    m = median(xs)
    return default if m is None else m


def _part(progress, key):
    """One `durationMs` entry (ms) of a streaming progress event."""
    parts = dict(x.split("=") for x in progress["duration_ms"])
    return int(parts.get(key, 0))


def _ratio(a, b):
    return a / b if b else 0.0


class Report:
    def __init__(self, workload, obs, wl, gen_s, cores):
        self.w, self.obs, self.wl, self.cores = workload, obs, wl, cores
        self.gen_s = gen_s
        self.lines = []

    # ------------------------------------------------------ end to end

    def op_samples(self, parity=None):
        """Headline samples; `parity` keeps odd (1) or even (0) cycles."""
        o = self.obs
        if self.w == "ingest_serve":
            xs = [(j["cycle"], j["s"]) for j in o["job"]
                  if j["status"] == "PARSED"]
        elif self.w == "graph_analytics":
            xs = [(p["pass"], p["s"]) for p in o["pass"] if p["pass"] >= 0]
        else:
            n = len(o["file"])
            xs = [(int(2 * f["i"] >= n), (f["commit_ms"] - f["due_ms"]) / 1e3)
                  for f in o["file"] if f["commit_ms"] is not None]
        return [v for c, v in xs if parity is None or c % 2 == parity]

    def setup_s(self):
        """Input generation, JVM boot, session start and the base-store
        build (with its warm-up batch and reads)."""
        parts = {"generate_s": self.gen_s}
        parts.update((s["part"], s["s"]) for s in self.obs["setup"])
        self.lines.append("setup: " + ", ".join(
            "%s=%.3f" % kv for kv in sorted(parts.items())))
        return sum(parts.values())

    def op_cpu_s(self):
        """JVM CPU seconds per headline operation: per upload (median),
        or the stream's whole feed and drain divided by its files."""
        o = self.obs
        if self.w == "ingest_serve":
            return median([j["cpu_s"] for j in o["job"]
                           if j["status"] == "PARSED"])
        if self.w == "graph_analytics":
            return median([p["cpu_s"] for p in o["pass"] if p["pass"] >= 0])
        return _ratio(o["loop"][0]["cpu_s"], len(o["file"])) or None

    def end_to_end(self):
        o = self.obs
        reads = o["read"]
        op = self.op_samples()
        label = {"ingest_serve": "ingest_job_s", "graph_analytics":
                 "graph_pass_s", "stream_ingest": "stream_lag_s"}[self.w]
        self.lines.append(describe(label, "s", op))
        if self.w == "ingest_serve":
            done = [j for j in o["job"] if j["status"] == "PARSED"]
            files = sum(self.wl.files[j["cycle"]] for j in done)
            self.lines.append("ingest_files_per_s %.4g files/s (%d files, "
                              "%d jobs)" % (_ratio(files, sum(
                                  j["s"] for j in done)), files, len(done)))
            if o["loop"] and o["loop"][0]["cycles"] >= len(self.wl.files):
                self.lines.append("note: the loop ran out of uploads")
        self.lines.append(describe("lookup_ms", "ms", [
            r["s"] * 1e3 for r in reads if r["kind"] == "key"]))
        self.lines.append(describe("listing_ms", "ms", [
            r["s"] * 1e3 for r in reads if r["kind"] != "key"]))
        read_cpu = [r["cpu_s"] * 1e3 for r in reads]
        self.lines.append(describe("read_cpu_ms", "ms", read_cpu))
        store = o["store"][0]["bytes"] if o["store"] else 0
        sc = o["scratch"][0] if o["scratch"] else {}
        self.lines.append("scratch root: %s entries before the run, %s "
                          "left by it (removed)" % (sc.get("before"),
                                                    sc.get("leaked")))
        return {
            "setup_s": self.setup_s(),
            "op_cpu_s": self.op_cpu_s(),
            "read_cpu_ms": median(read_cpu),
            "peak_rss_mb": o["end"][0]["peak_rss_mb"] if o["end"] else None,
            "store_bytes_per_input_byte": _ratio(
                store, self.wl.input_bytes(o) or 0) or None,
        }

    # ------------------------------------------------------- per layer

    def _span_kinds(self):
        """Attribution key -> span kind it counts under, and the spans."""
        spans = {s["id"]: s for s in self.obs["span"]}
        kind_of = {}
        for sid, s in spans.items():
            k, cur = s["kind"], s
            while k not in SPANS and cur["parent"] in spans:
                cur = spans[cur["parent"]]
                k = cur["kind"]
            kind_of["pb-%d" % sid] = k
        kind_of["pool:ingest"] = "ingest_job"
        kind_of["stream"] = "stream_batch"
        if self.w == "ingest_serve":
            kind_of["none"] = "poll"
        return kind_of, spans

    def _spark(self, out):
        kind_of, spans = self._span_kinds()
        o = self.obs
        data_batches = [p for p in o["progress"] if p["rows"] > 0]
        walls = {k: [] for k in SPANS}
        for s in spans.values():
            if s["kind"] in walls and s["kind"] != "ingest_job":
                walls[s["kind"]].append(s["dur_s"])
        walls["ingest_job"] = [j["s"] for j in o["job"]]
        walls["stream_batch"] = [_part(p, "triggerExecution") / 1e3
                                 for p in data_batches]
        tot = {k: dict.fromkeys(SPARK_FIELDS, 0.0) for k in SPANS}
        for a in o["spark"]:
            k = kind_of.get(a["attr"])
            if k in tot:
                for f in SPARK_FIELDS[:-1]:
                    tot[k][f] += a[f]
        for k in SPANS:
            n = len(walls[k])
            for f in SPARK_FIELDS[:-1]:
                out["spark.%s.%s" % (k, f)] = _ratio(tot[k][f], n)
            out["spark.%s.core_util" % k] = _ratio(
                tot[k]["task_s"], sum(walls[k]) * self.cores)
        # per graph call, from the instrumented passes' call spans
        calls = [s for s in spans.values() if s["kind"] == "graph"
                 and not s["req"].startswith("pass--")]
        passes = [p for p in o["pass"] if p["pass"] >= 0]
        for i, c in enumerate(GRAPH_CALLS):
            mine = [s for s in calls if s["name"] == c]
            jobs = task = 0.0
            for a in o["spark"]:
                if any(a["attr"] == "pb-%d" % s["id"] for s in mine):
                    jobs += a["jobs"]
                    task += a["task_s"]
            out["graph.%s_s" % c] = _med([p["calls"][i] for p in passes])
            out["graph.%s.jobs" % c] = _ratio(jobs, len(mine))
            out["graph.%s.core_util" % c] = _ratio(
                task, sum(s["dur_s"] for s in mine) * self.cores)
        read_spans = [s for s in spans.values()
                      if s["kind"] in ("lookup", "listing")]
        read_jobs = sum(a["jobs"] for a in o["spark"]
                        if kind_of.get(a["attr"]) in ("lookup", "listing"))
        out["query.jobs_per_op"] = _ratio(read_jobs, len(read_spans))

    def per_layer(self):
        o = self.obs
        out = {}
        self._spark(out)
        # jobs
        events = {}
        for e in o["job_event"]:
            events.setdefault(e["job"], {})[e["status"]] = e["ts_ms"]
        ev = list(events.values())
        out["jobs.post_ms"] = _med([j["post_s"] * 1e3 for j in o["job"]])
        out["jobs.queued_to_parsing_s"] = _med(
            [(e["PARSING"] - e["QUEUED"]) / 1e3 for e in ev
             if "PARSING" in e and "QUEUED" in e])
        out["jobs.parsing_to_parsed_s"] = _med(
            [(e["PARSED"] - e["PARSING"]) / 1e3 for e in ev
             if "PARSED" in e and "PARSING" in e])
        out["jobs.detect_s"] = _med(
            [(j["seen_ms"] - events[j["job"]]["PARSED"]) / 1e3
             for j in o["job"] if "PARSED" in events.get(j["job"], {})])
        out["jobs.poll_ms"] = _med([s["dur_s"] * 1e3 for s in o["span"]
                                    if s["kind"] == "poll"])
        out["jobs.polls_per_job"] = _med([j["polls"] for j in o["job"]])
        layer = {x["name"]: x["v"] for x in o["layer"]}
        out["jobs.log_files"] = layer.get("jobs.log_files", 0)
        # ingest and codec
        out["ingest.stage_s"] = _med([x["stage_s"] for x in o["ingest_layer"]])
        out["ingest.scan_s"] = _med([x["scan_s"] for x in o["ingest_layer"]])
        out["codec.parse_us_per_msg"] = layer.get("codec.parse_us_per_msg", 0)
        # store
        up = o["upsert"]
        out["store.upsert_s"] = _med([u["s"] for u in up])
        out["store.upsert_rows_per_s"] = _ratio(sum(u["rows"] for u in up),
                                                sum(u["s"] for u in up))
        out["store.months_rewritten_per_upsert"] = _med(
            [u["months_rewritten"] for u in up])
        out["store.bytes_written_per_input_byte"] = _ratio(
            sum(u["bytes_written"] for u in up), sum(u["in_bytes"] for u in up))
        out["store.files_per_month_max"] = max(
            [u["files_per_month_max"] for u in up], default=0)
        out["store.keyidx_files"] = up[-1]["keyidx_files"] if up else 0
        # query
        split = [r for r in o["read"] if "plan_s" in r]
        out["query.plan_ms"] = _med([r["plan_s"] * 1e3 for r in split])
        out["query.exec_ms"] = _med([r["exec_s"] * 1e3 for r in split])
        out["query.scan_files_per_op"] = _ratio(
            sum(r["scan_files"] for r in split), len(split))
        out["query.rows_scanned_per_row_returned"] = _ratio(
            sum(r["scan_rows"] for r in split),
            max(1, sum(r["rows"] for r in split)))
        # streaming
        data = [p for p in o["progress"] if p["rows"] > 0]
        out["streaming.batches"] = len(data)
        out["streaming.files_per_batch"] = _med([p["rows"] for p in data])
        for name, key in PROGRESS_PARTS:
            out["streaming." + name] = _med([_part(p, key) for p in data])
        files = o["file"]
        backlog = 0
        for p in data:
            t = p["start_ms"]
            backlog = max(backlog, sum(1 for f in files if f["written_ms"] <= t)
                          - sum(1 for f in files if f["commit_ms"] is not None
                                and f["commit_ms"] <= t))
        out["streaming.backlog_files_max"] = backlog
        out["streaming.generator_late_ms"] = max(
            [f["written_ms"] - f["due_ms"] for f in files], default=0)
        # what tracing costs the headline: instrumented (odd) cycles over
        # uninstrumented (even) ones of this same run
        on, off = median(self.op_samples(1)), median(self.op_samples(0))
        out["trace.overhead_ratio"] = _ratio(on, off) if on and off else None
        self.lines.append("per-layer: %d upserts, %d split reads, %d spans, "
                          "%d progress events instrumented" % (
                              len(up), len(split), len(o["span"]),
                              len(o["progress"])))
        return out
