#!/usr/bin/env python3
"""Serving benchmark for graft: one closed-loop client against GraftHttpServer.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Builds the server harness (first run only), generates the events table from
the seed, starts the server on a private store, runs an untimed warm-up
cycle of every operation type, then a fixed number of timed cycles set by
--seconds. Every answer is checked (see panels.py, oracle.py). The last
stdout line is the JSON result: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. See README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

import gen
import oracle
import panels
import server

WORKLOADS = {
    # panels refreshed per cycle, formats pushed in turn (one push per
    # timed cycle, every format in the warm-up cycle), whether each push is
    # read back until visible, and whether each cycle ends with a
    # maintenance pass. dashboard's push lands in series no panel reads; its
    # rows are checked once, at the end of the run.
    "dashboard": {"panels": ["logql_count_1d", "logql_count_2d",
                             "logql_filter_1d", "loki_labels",
                             "loki_user_values", "promql_rate_1d",
                             "promql_quantile_2d", "promql_instant",
                             "traceql_search_2d", "tempo_tags"],
                  "formats": ["loki"], "visible": False, "maintain": False},
    "live": {"panels": ["logql_count_1d", "promql_rate_1d",
                        "traceql_search_1d", "promql_pushed_family"],
             "formats": ["otlp_metrics", "loki"], "visible": True,
             "maintain": True},
}
N_EVENTS, N_USERS = 4000, 20
ROWS_PER_PUSH, PUSH_DAYS = 200, panels.DAYS
# The number of timed cycles follows from --seconds alone, one per
# SECONDS_PER_CYCLE and at least MIN_CYCLES, never from how fast cycles run:
# every run of one command line makes the same operations, so a faster
# program cannot get an extra cycle that changes the mix it is timed on.
MIN_CYCLES, SECONDS_PER_CYCLE = 2, 6
# The reference job runs before every REF_EVERY-th operation of a cycle,
# at the same positions in every cycle.
REF_EVERY = 3
REF_ROWS = len(gen.EVENT_TYPES)   # groups of the reference job


def timed_cycles(seconds):
    return max(MIN_CYCLES, int(seconds // SECONDS_PER_CYCLE))


def median(xs):
    """Median; 0 for a layer the workload does not use."""
    return statistics.median(xs) if xs else 0.0


class Failure(Exception):
    pass


class Run:
    def __init__(self, srv, orc, workload, seed, trace):
        self.srv = srv
        self.wl = WORKLOADS[workload]
        self.seed = seed
        self.trace = trace
        all_panels = panels.dashboard(orc)
        self.ledger = {f: [] for f in gen.FORMATS}
        all_panels["promql_pushed_family"] = panels.pushed_family_panel(
            self.gauge_by_host)
        self.all_panels = all_panels
        self.panels = [all_panels[n] for n in self.wl["panels"]]
        self.push_seq = 0
        self.clock = gen.T0_S + gen.DAY_S    # ruler time, inside the data
        self.bodies = {}
        self.attempted = 0
        self.failed = 0
        self.errors = []
        self.timed = False
        self.s = {k: [] for k in (
            "query", "logql", "promql", "traceql", "push", "visible", "tick",
            "cpu_query", "cpu_logql", "cpu_promql", "cpu_traceql", "cpu_push",
            "cpu_ref")}
        self.warm_refs = 0
        self.rows_acked = 0
        self.push_loop_s = 0.0
        self.body_bytes = 0
        self.spans = []
        self.layer = {}

    # ---- bookkeeping ---------------------------------------------------
    def gauge_by_host(self):
        out = {}
        for b in self.ledger["otlp_metrics"]:
            for _, host, _ in b.rows:
                out[host] = out.get(host, 0) + 1
        return out

    def op(self, kind, fn):
        """Run one checked operation; a failed check fails the operation."""
        if self.timed:
            self.attempted += 1
        try:
            return fn()
        except (Failure, ValueError, KeyError, IndexError, TypeError) as e:
            if self.timed:
                self.failed += 1
            self.errors.append("%s: %s" % (kind, e))
            return None

    def sample(self, key, value):
        if self.timed:
            self.s[key].append(value)
            if self.trace:
                self.layer.setdefault(key, []).append(value)

    def note(self, key, value):
        if self.timed and self.trace:
            self.layer.setdefault(key, []).append(value)

    def take_op(self, name, rtt_ms, resp_bytes):
        """Traced runs: per-operation counters of the request just made."""
        if not self.trace:
            return None
        st = self.srv.control("op")
        st.update(name=name, rtt_ms=rtt_ms, response_bytes=resp_bytes)
        if self.timed:
            self.spans.append(st)
        return st

    # ---- operations ----------------------------------------------------
    def panel(self, p):
        cpu0 = self.srv.cpu_s()
        t0 = time.perf_counter()
        status, body = self.srv.request("GET", p.path, p.params)
        ms = (time.perf_counter() - t0) * 1000
        cpu = self.srv.cpu_s() - cpu0
        st = self.take_op(p.name, ms, len(body))
        if status != 200:
            raise Failure("%s answered %d: %r" % (p.name, status, body[:200]))
        why = p.check(body)
        if why:
            raise Failure("%s: %s" % (p.name, why))
        prev = self.bodies.get(p.name)
        if prev is not None and p.name in STABLE and prev != body:
            raise Failure("%s: answer changed on data it does not read" % p.name)
        self.bodies[p.name] = body
        self.sample("query", ms)
        self.sample(p.lang, ms)
        self.sample("cpu_query", cpu * 1000)
        self.sample("cpu_" + p.lang, cpu * 1000)
        if st is not None and self.timed:
            self.trace_query(p, st)

    def trace_query(self, p, st):
        for k in ("analysis_ms", "optimization_ms", "planning_ms",
                  "execute_ms", "jobs", "stages", "tasks", "task_cpu_ms",
                  "scan_bytes", "scan_rows", "shuffle_bytes"):
            self.note("q." + k, st[k])
        self.note("http.route_ms", st["route_ms"])
        self.note("http.overhead_ms", st["rtt_ms"] - st["route_ms"])
        self.note("http.response_bytes", st["response_bytes"])
        if p.parse:
            q, start, end, step = p.parse
            r = self.srv.control("parse", {
                "lang": p.lang, "q": q, "start": start * 10**9,
                "end": end * 10**9, "step": step})
            self.note(p.lang + ".parse_ms", r["parse_ms"])
            self.note(p.lang + ".compile_ms", r["compile_ms"])

    def push(self, fmt):
        b = gen.make_batch(self.seed, fmt, self.push_seq, ROWS_PER_PUSH,
                           PUSH_DAYS, 0)
        self.push_seq += 1
        before = self.srv.control("store") if self.trace and self.timed else None
        cpu0 = self.srv.cpu_s()
        t0 = time.perf_counter()
        status, body = self.srv.request("POST", b.route, body=b.body)
        ms = (time.perf_counter() - t0) * 1000
        cpu = self.srv.cpu_s() - cpu0
        st = self.take_op("push_" + fmt, ms, len(body))
        if status not in (200, 202, 204):
            raise Failure("push %s answered %d: %r" % (fmt, status, body[:200]))
        self.ledger[fmt].append(b)
        self.sample("push", ms)
        self.sample("cpu_push", cpu * 1000)
        if self.timed:
            self.rows_acked += len(b.rows)
            self.push_loop_s += ms / 1000
        self.body_bytes += len(b.body)
        if st is not None and self.timed:
            after = self.srv.control("store")
            self.note("spark.jobs_per_push", st["jobs"])
            self.note("spark.tasks_per_push", st["tasks"])
            self.note("spark.task_cpu_ms_per_push", st["task_cpu_ms"])
            self.note("store.append_ms", st["append_ms"])
            self.note("store.files_per_push", after["files"] - before["files"])
            self.note("store.bytes_per_push", after["bytes"] - before["bytes"])
            self.note("ingest.rows_per_push", len(b.rows))
            self.note("http.route_ms", st["route_ms"])
            self.note("http.overhead_ms", st["rtt_ms"] - st["route_ms"])
            self.decoders()
        if self.wl["visible"]:
            self.visible(fmt, b, t0)

    def decoders(self):
        """Traced runs: every wire decoder, forced, on a batch of its format."""
        for fmt in gen.FORMATS:
            b = gen.make_batch(self.seed, fmt, self.push_seq, ROWS_PER_PUSH,
                               PUSH_DAYS, 0)
            r = self.srv.control("decode", {"fmt": fmt}, b.body)
            if r["rows"] < len(b.rows):
                raise Failure("decoder %s gave %d of %d rows"
                              % (fmt, r["rows"], len(b.rows)))
            self.note("ingest.%s_decode_ms" % fmt, r["ms"])

    def visible(self, fmt, b, t0):
        """Query until every row of push `b` is in the answer."""
        want = sum(len(x.rows) for x in self.ledger[fmt])
        path, params, count = panels.READ_BACK[fmt]
        for _ in range(20):
            status, body = self.srv.request("GET", path, params)
            got = count(body) if status == 200 else -1
            self.take_op("read_back_" + fmt, 0.0, len(body))
            if status == 200 and got == want:
                self.sample("visible", (time.perf_counter() - t0) * 1000)
                return
            if status != 200 or got > want:
                raise Failure("read-back %s: %d answered %d rows, ledger %d"
                              % (fmt, status, got, want))
        raise Failure("push %s not visible after 20 reads" % fmt)

    def contents(self, fmt):
        """Every pushed row of `fmt` read back and compared with the ledger."""
        path, params, check = panels.CONTENTS[fmt]
        status, body = self.srv.request("GET", path, params)
        self.take_op("contents_" + fmt, 0.0, len(body))
        rows = [r for x in self.ledger[fmt] for r in x.rows]
        why = check(body, rows) if status == 200 else "answered %d: %r" % (
            status, body[:120])
        if why:
            raise Failure("read-back %s: %s" % (fmt, why))

    def maintain(self):
        t0 = time.perf_counter()
        r = self.srv.control("maintain")
        self.take_op("maintain", 0.0, 0)
        if self.timed:
            self.push_loop_s += time.perf_counter() - t0
        self.note("store.maintain_ms", r["ms"])
        self.note("store.maintain_files_removed", r["files_removed"])
        self.note("store.maintain_bytes_rewritten", r["bytes_rewritten"])
        # the store holds the same rows after the pass as before it
        for fmt in self.wl["formats"]:
            self.contents(fmt)

    def tick(self):
        self.clock += panels.RULE_GROUP_S
        self.srv.control("clock", {"ns": self.clock * 10**9})
        r = self.srv.control("tick")
        st = self.take_op("tick", 0.0, 0)
        self.sample("tick", r["ms"])
        self.note("streaming.samples_per_tick", r["samples"])
        if st is not None:
            self.note("spark.jobs_per_tick", st["jobs"])
        # the tick recorded exactly the due grid point, with the value the
        # rule expression has at that point when queried directly
        t, step = self.clock, panels.RULE_GROUP_S
        _, direct = self.srv.request("GET", "/loki/api/v1/query_range", {
            "query": panels.RULE_EXPR, "start": t, "end": t + step,
            "step": "%ds" % step})
        _, rec = self.srv.request("GET", "/api/v1/query_range", {
            "query": "bench_level_lines", "start": t, "end": t, "step": step})
        self.take_op("rule_check", 0.0, 0)
        want = panels._matrix(direct, ["level"])
        got = panels._matrix(rec, ["level"])
        if r["samples"] != len(want) or got != want:
            raise Failure("tick at %d wrote %d samples %s, rule gives %s"
                          % (t, r["samples"], got, want))

    def reference(self):
        """The reference job, which runs no graft code; the warm-up cycle
        runs it twice."""
        if not self.timed:
            self.warm_refs += 1
            if self.warm_refs > 2:
                return
        cpu0 = self.srv.cpu_s()
        r = self.srv.control("calib")
        cpu = self.srv.cpu_s() - cpu0
        if r["rows"] != REF_ROWS:
            raise RuntimeError("reference job gave %d rows" % r["rows"])
        self.sample("cpu_ref", cpu * 1000)

    # ---- the loop ------------------------------------------------------
    def cycle(self, fmts):
        ops = ([("push", lambda f=f: self.push(f)) for f in fmts] +
               [(p.name, lambda p=p: self.panel(p)) for p in self.panels])
        for i, (name, fn) in enumerate(ops):
            if i % REF_EVERY == 0:
                self.reference()
            self.op(name, fn)
        if self.wl["maintain"]:
            self.op("maintain", self.maintain)

    def run(self, seconds):
        ruler = self.trace and self.wl["maintain"]
        if ruler:
            status, body = self.srv.request(
                "POST", "/loki/api/v1/rules/bench",
                body=panels.RULES_YAML.encode())
            if status not in (200, 202):
                raise SystemExit("rule group refused: %d %r" % (status, body))
        self.bytes0 = self.srv.control("store")["bytes"]
        # untimed warm-up: one cycle that pushes every format once, so each
        # operation type of the workload has run before the timed phase
        fmts = self.wl["formats"]
        t_warm = time.monotonic()
        self.cycle(fmts)
        self.warm_s = time.monotonic() - t_warm
        self.jvm0 = self.srv.control("jvm", {"reset": "1"})
        self.steal0 = server.host_steal()
        self.timed = True
        t0 = time.monotonic()
        self.cycles = timed_cycles(seconds)
        for n in range(self.cycles):
            self.cycle([fmts[n % len(fmts)]])
        self.elapsed = time.monotonic() - t0
        if ruler:
            self.op("tick", self.tick)
        # every pushed row, compared with the ledger
        for fmt in fmts:
            self.op("contents", lambda: self.contents(fmt))
        self.timed = False
        steal1 = server.host_steal()
        self.steal = ((steal1[0] - self.steal0[0]) /
                      max(1, steal1[1] - self.steal0[1]))
        self.jvm1 = self.srv.control("jvm")
        store_end = self.srv.control("store")
        self.srv.control("maintain")
        self.bytes1 = self.srv.control("store")["bytes"]
        self.store_end = store_end

    def end_to_end(self, setup):
        """Gated metrics. Server CPU per operation, in multiples of the
        reference job's CPU over the same run, stands in for latency: the
        host steals CPU and slows Spark work in episodes that span whole
        runs; CPU time leaves the stolen time out, and the ratio cancels
        the slow-down (see README.md)."""
        s = self.s
        ref = statistics.mean(s["cpu_ref"])
        return {
            "setup_s": (setup["setup_s"], "s"),
            "query_cpu_rel": (statistics.mean(s["cpu_query"]) / ref, "ratio"),
            "push_cpu_rel": (statistics.mean(s["cpu_push"]) / ref, "ratio"),
            "rss_peak_mb": (self.srv.rss_peak_mb(), "MB"),
            "store_bytes_per_input_byte": (
                (self.bytes1 - self.bytes0) / self.body_bytes, "ratio"),
        }

    def server_cpu(self):
        """Mean server CPU per operation and of the reference job, in ms,
        and per query language in reference jobs; reported, not gated."""
        s = self.s
        out = {k + "_cpu_ms": statistics.mean(s["cpu_" + k]) for k in (
            "query", "logql", "promql", "traceql", "push", "ref")}
        for lang in ("logql", "promql", "traceql"):
            out[lang + "_cpu_rel"] = (out[lang + "_cpu_ms"] /
                                      out["ref_cpu_ms"])
        return out

    def wall_clock(self):
        """Round-trip figures a client sees; reported, not gated."""
        s = self.s
        return {
            "query_p50_ms": median(s["query"]),
            "logql_p50_ms": median(s["logql"]),
            "promql_p50_ms": median(s["promql"]),
            "traceql_p50_ms": median(s["traceql"]),
            "push_p50_ms": median(s["push"]),
            "visible_p50_ms": median(s["visible"]),
            "ingest_rows_per_s": self.rows_acked / self.push_loop_s,
        }

    def per_layer(self, setup):
        L = self.layer
        m = {}

        def put(name, values, unit):
            m[name] = (median(values), unit)
        put("http.route_ms", L.get("http.route_ms", []), "ms")
        put("http.overhead_ms", L.get("http.overhead_ms", []), "ms")
        put("http.response_bytes", L.get("http.response_bytes", []), "bytes")
        for lang in ("logql", "promql", "traceql"):
            put(lang + ".parse_ms", L.get(lang + ".parse_ms", []), "ms")
            put(lang + ".compile_ms", L.get(lang + ".compile_ms", []), "ms")
        for k in ("analysis", "optimization", "planning"):
            put("spark.%s_ms" % k, L.get("q.%s_ms" % k, []), "ms")
        put("spark.execute_ms", L.get("q.execute_ms", []), "ms")
        for k, unit in (("jobs", "count"), ("stages", "count"),
                        ("tasks", "count"), ("task_cpu_ms", "ms"),
                        ("scan_bytes", "bytes"), ("scan_rows", "count"),
                        ("shuffle_bytes", "bytes")):
            put("spark.%s_per_query" % k, L.get("q." + k, []), unit)
        put("spark.jobs_per_push", L.get("spark.jobs_per_push", []), "count")
        put("spark.tasks_per_push", L.get("spark.tasks_per_push", []), "count")
        put("spark.task_cpu_ms_per_push",
            L.get("spark.task_cpu_ms_per_push", []), "ms")
        put("spark.jobs_per_tick", L.get("spark.jobs_per_tick", []), "count")
        for fmt in gen.FORMATS:
            put("ingest.%s_decode_ms" % fmt,
                L.get("ingest.%s_decode_ms" % fmt, []), "ms")
        put("ingest.rows_per_push", L.get("ingest.rows_per_push", []), "count")
        m["store.build_s"] = (setup["build_s"], "s")
        m["store.warm_s"] = (setup["warm_s"], "s")
        put("store.append_ms", L.get("store.append_ms", []), "ms")
        put("store.files_per_push", L.get("store.files_per_push", []), "count")
        put("store.bytes_per_push", L.get("store.bytes_per_push", []), "bytes")
        put("store.maintain_ms", L.get("store.maintain_ms", []), "ms")
        put("store.maintain_files_removed",
            L.get("store.maintain_files_removed", []), "count")
        put("store.maintain_bytes_rewritten",
            L.get("store.maintain_bytes_rewritten", []), "bytes")
        m["store.files_total"] = (self.store_end["files"], "count")
        m["store.leaf_files_max"] = (self.store_end["leaf_files_max"], "count")
        m["store.bytes_total"] = (self.store_end["bytes"], "bytes")
        put("streaming.tick_ms", L.get("tick", []), "ms")
        put("streaming.samples_per_tick",
            L.get("streaming.samples_per_tick", []), "count")
        j0, j1 = self.jvm0, self.jvm1
        m["jvm.gc_ms"] = (j1["gc_ms"] - j0["gc_ms"], "ms")
        m["jvm.gc_count"] = (j1["gc_count"] - j0["gc_count"], "count")
        m["jvm.jit_ms"] = (j1["jit_ms"] - j0["jit_ms"], "ms")
        m["jvm.heap_peak_mb"] = (j1["heap_peak_mb"], "MB")
        return m


STABLE = {"logql_count_1d", "logql_count_2d", "logql_filter_1d",
          "loki_user_values", "promql_rate_1d", "promql_quantile_2d",
          "promql_instant", "traceql_search_1d", "traceql_search_2d"}


def train(scratch):
    """Training run for the class-data archive: one server, dumping the
    classes it loaded at exit, taken once through every push format,
    every panel and a maintenance pass. Its answers are not checked."""
    work = os.path.join(scratch, "train-%d" % os.getpid())
    os.makedirs(os.path.join(work, "data"))
    srv = None
    try:
        events = os.path.join(work, "data", "events.parquet")
        gen.write_events(events, 0, N_EVENTS, N_USERS, panels.DAYS)
        srv = server.Server(work, gen.T0_S * 10**9, False, dump_cds=True)
        run = Run(srv, oracle.Oracle(events), "dashboard", 0, False)
        srv.wait_ready()
        run.panels = list(run.all_panels.values())
        run.cycle(gen.FORMATS)
        run.op("maintain", run.maintain)
    finally:
        if srv is not None:
            srv.stop(timeout=300)
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()
    # a terminated run still stops its server and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    scratch = os.path.join(server.HERE, ".work")
    work = os.path.join(scratch, "run-%d" % os.getpid())
    os.makedirs(work)
    srv = None
    try:
        server.build(os.path.join(scratch, "build.log"),
                     lambda: train(scratch))
        data = os.path.join(work, "data")
        os.makedirs(data)
        events = os.path.join(data, "events.parquet")
        gen.write_events(events, args.seed, N_EVENTS, N_USERS, panels.DAYS)
        srv = server.Server(work, gen.T0_S * 10**9, args.trace == 1)
        orc = oracle.Oracle(events)
        run = Run(srv, orc, args.workload, args.seed, args.trace == 1)
        srv.wait_ready()
        setup = srv.control("setup")
        run.run(args.seconds)
        metrics = (run.per_layer(setup) if args.trace else
                   run.end_to_end(setup))
        if args.trace:
            spans = os.path.join(server.HERE, ".traces")
            os.makedirs(spans, exist_ok=True)
            with open(os.path.join(spans, "%s-%d.jsonl" % (
                    args.workload, args.seed)), "w") as fh:
                for sp in run.spans:
                    fh.write(json.dumps(sp) + "\n")
    finally:
        if srv is not None:
            srv.stop()
        shutil.rmtree(work, ignore_errors=True)
    for e in run.errors[:10]:
        print("check failed:", e, file=sys.stderr)
    print("cycles %d in %.1f s, host steal %.1f%% of CPU time; launch %.1f s,"
          " set-up %.1f s, warm-up %.1f s, whole run %.1f s"
          % (run.cycles, run.elapsed, 100 * run.steal,
             setup["launch_s"] + setup["spark_s"], setup["setup_s"],
             run.warm_s, time.monotonic() - started), file=sys.stderr)
    print("wall-clock " + json.dumps(run.wall_clock()), file=sys.stderr)
    print("server-cpu " + json.dumps(run.server_cpu()), file=sys.stderr)
    print(json.dumps({
        "correct": not run.errors,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
