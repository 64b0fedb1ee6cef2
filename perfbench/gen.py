"""Seeded inputs: the events table the store is built from, and push batches.

Everything here is a pure function of the seed and its arguments, so the
same seed gives the same bytes. The events table has the shape of the
repository's testdata `events.parquet` (event_id, ts, user_id, event_type,
value, props), which is all the store build reads.
"""
import json
import random

import pyarrow as pa
import pyarrow.parquet as pq

T0_S = 1704067200  # 2024-01-01T00:00:00Z
DAY_S = 86400
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def write_events(path, seed, n_events, n_users, days):
    """Events with unique, sorted microsecond timestamps over `days` days."""
    rng = random.Random(seed)
    span_us = days * DAY_S * 1_000_000
    offsets = sorted(rng.sample(range(span_us), n_events))
    ts = [T0_S * 1_000_000 + o for o in offsets]
    users = [rng.randrange(n_users) for _ in range(n_events)]
    types = [rng.choice(EVENT_TYPES) for _ in range(n_events)]
    values = [round(min(490.0, rng.expovariate(1 / 25.0) + 0.01), 2)
              for _ in range(n_events)]
    props = ['{"k": %d}' % rng.randrange(100) for _ in range(n_events)]
    table = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array(types, pa.string()),
        "value": pa.array(values, pa.float64()),
        "props": pa.array(props, pa.string()),
    })
    pq.write_table(table, path)


FORMATS = ["loki", "otlp_logs", "otlp_metrics", "zipkin", "influx"]
ROUTES = {
    "loki": "/loki/api/v1/push",
    "otlp_logs": "/v1/logs",
    "otlp_metrics": "/v1/metrics",
    "zipkin": "/api/v2/spans",
    "influx": "/influx/api/v2/write",
}


class Batch:
    """One push: its route, body, and the rows it carries (the ledger)."""

    def __init__(self, fmt, seq, body, rows):
        self.fmt = fmt
        self.seq = seq
        self.route = ROUTES[fmt]
        self.body = body.encode()
        self.rows = rows  # list of (ts_ns, label, value-or-line)


def make_batch(seed, fmt, seq, rows, days, first_day, hosts=4):
    """Push `seq` of format `fmt`: `rows` rows spread evenly over `days`
    days starting at `first_day`, so a push touches several date leaves.
    Timestamps are distinct across every (fmt, seq) of one seed.
    """
    rng = random.Random("%s/%s/%d" % (seed, fmt, seq))
    step_ns = days * DAY_S * 10**9 // rows
    base = (T0_S + first_day * DAY_S) * 10**9 + seq * 1_000_000 + 1000
    out = []
    for i in range(rows):
        ts = base + i * step_ns + rng.randrange(1000) * 1000
        host = "h%d" % (i % hosts)
        if fmt in ("loki", "otlp_logs"):
            val = "%s push %d row %d k=%d" % (fmt, seq, i, rng.randrange(1000))
        elif fmt == "zipkin":
            val = rng.randrange(1, 5000) * 1000  # duration ns, whole us
        else:
            val = round(rng.uniform(0, 100), 3)
        out.append((ts, host, val))
    if fmt == "loki":
        streams = {}
        for ts, host, line in out:
            streams.setdefault(host, []).append([str(ts), line])
        body = json.dumps({"streams": [
            {"stream": {"job": "bench_loki", "host": h}, "values": v}
            for h, v in sorted(streams.items())]})
    elif fmt == "otlp_logs":
        by_host = {}
        for ts, host, line in out:
            by_host.setdefault(host, []).append(
                {"timeUnixNano": str(ts), "body": {"stringValue": line}})
        body = json.dumps({"resourceLogs": [
            {"resource": {"attributes": [
                {"key": "job", "value": {"stringValue": "bench_otlp"}},
                {"key": "host", "value": {"stringValue": h}}]},
             "scopeLogs": [{"logRecords": recs}]}
            for h, recs in sorted(by_host.items())]})
    elif fmt == "otlp_metrics":
        points = [{"timeUnixNano": str(ts), "asDouble": v, "attributes": [
            {"key": "host", "value": {"stringValue": host}}]}
            for ts, host, v in out]
        body = json.dumps({"resourceMetrics": [{"scopeMetrics": [{"metrics": [
            {"name": "bench_gauge", "gauge": {"dataPoints": points}}]}]}]})
    elif fmt == "zipkin":
        trace = "%016x" % (0x5eed000000000 + seq)
        spans = []
        for i, (ts, host, dur) in enumerate(out):
            span = {"traceId": trace, "id": "%016x" % (seq * 100000 + i + 1),
                    "name": "op%d" % (i % 3), "timestamp": ts // 1000,
                    "duration": dur // 1000,
                    "localEndpoint": {"serviceName": "bench_zipkin"},
                    "tags": {"host": host, "push": str(seq)}}
            if i:
                span["parentId"] = "%016x" % (seq * 100000 + 1)
            spans.append(span)
        body = json.dumps(spans)
    else:
        body = "\n".join("bench_cpu,host=%s usage=%r %d" % (host, v, ts)
                         for ts, host, v in out)
    return Batch(fmt, seq, body, out)
