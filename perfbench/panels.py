"""The dashboard panels, the ingest read-back queries, and their checks.

A panel is one Grafana query. Its check compares the server's JSON answer
with the DuckDB oracle (oracle.py) and returns None when it holds, or a
short reason when it does not.
"""
import json

from gen import DAY_S, T0_S

DAYS = 2                      # days of events in every store
END = T0_S + DAYS * DAY_S     # every panel's range ends here
RULE_GROUP_S = 600            # ruler group interval; the clock moves by it
NEEDLE = '"k": 1'             # line filter of the log panel
LIMIT = 50


def _close(a, b):
    return abs(a - b) <= 1e-6 * max(1.0, abs(b))


def _matrix(body, key):
    """Prometheus/Loki matrix answer -> {(label, ts): value}."""
    out = {}
    for s in json.loads(body)["data"]["result"]:
        lab = tuple(s["metric"][k] for k in key)
        for ts, v in s["values"]:
            out[lab + (int(ts),)] = float(v)
    return out


def _vector(body, key):
    out = {}
    for s in json.loads(body)["data"]["result"]:
        ts, v = s["value"]
        out[tuple(s["metric"][k] for k in key) + (int(float(ts)),)] = float(v)
    return out


def _same_numbers(got, want):
    if set(got) != set(want):
        missing = sorted(set(want) - set(got))[:3]
        extra = sorted(set(got) - set(want))[:3]
        return "keys differ: missing %s extra %s (%d vs %d)" % (
            missing, extra, len(got), len(want))
    bad = [k for k in want if not _close(got[k], want[k])]
    if bad:
        return "values differ at %s: %s vs %s" % (bad[0], got[bad[0]],
                                                  want[bad[0]])
    return None


class Panel:
    """One query of the dashboard: route, parameters, language, check."""

    def __init__(self, name, lang, path, params, check, parse=None):
        self.name = name
        self.lang = lang          # logql, promql or traceql
        self.path = path
        self.params = params
        self.check = check        # body -> None or reason
        self.parse = parse        # (query, start, end, step) for traced runs


def dashboard(orc):
    """All panels, keyed by name. Expected answers come from `orc`."""
    d1 = END - DAY_S
    full = T0_S
    panels = []

    def level_counts(name, start, step):
        q = 'sum by (level) (count_over_time({level=~"info|error"}[1h]))'
        want = orc.level_counts(start, END, step, 3600)
        panels.append(Panel(name, "logql", "/loki/api/v1/query_range",
                            {"query": q, "start": start, "end": END,
                             "step": "%ds" % step},
                            lambda b: _same_numbers(_matrix(b, ["level"]), want),
                            (q, start, END, step)))

    level_counts("logql_count_1d", d1, 3600)
    level_counts("logql_count_2d", full, 7200)

    q = '{event_type="error"} |= %s' % json.dumps(NEEDLE)
    want_lines = orc.filtered_lines(d1, END, NEEDLE, LIMIT)

    def lines_check(b):
        got = set()
        for s in json.loads(b)["data"]["result"]:
            got.update((ts, line) for ts, line in s["values"])
        if got != want_lines:
            return "lines differ: %d vs %d" % (len(got), len(want_lines))
        return None
    panels.append(Panel("logql_filter_1d", "logql", "/loki/api/v1/query_range",
                        {"query": q, "start": d1, "end": END, "limit": LIMIT},
                        lines_check, (q, d1, END, 60)))

    def labels_check(b):
        got = set(json.loads(b)["data"])
        base = {"event_type", "level", "user"}
        return None if base <= got else "labels %s lack %s" % (got, base)
    panels.append(Panel("loki_labels", "logql", "/loki/api/v1/labels",
                        {"start": d1, "end": END}, labels_check))

    want_users = orc.user_values(full, END)
    panels.append(Panel("loki_user_values", "logql",
                        "/loki/api/v1/label/user/values",
                        {"start": full, "end": END},
                        lambda b: None if json.loads(b)["data"] == want_users
                        else "user values differ"))

    q = "sum by (event_type) (rate(events_total[1h]))"
    want_rate = orc.rate_by_type(d1, END, 3600, 3600)
    panels.append(Panel("promql_rate_1d", "promql", "/api/v1/query_range",
                        {"query": q, "start": d1, "end": END, "step": 3600},
                        lambda b: _same_numbers(_matrix(b, ["event_type"]),
                                                want_rate),
                        (q, d1, END, 3600)))

    q = "histogram_quantile(0.9, sum by (le) (rate(events_bucket[1h])))"
    want_q = orc.p90_latency(full, END, 7200, 3600)
    panels.append(Panel("promql_quantile_2d", "promql", "/api/v1/query_range",
                        {"query": q, "start": full, "end": END, "step": 7200},
                        lambda b: _same_numbers(_matrix(b, []), want_q),
                        (q, full, END, 7200)))

    q = "sum by (event_type) (events_value)"
    t = END - 3600
    want_i = orc.gauge_sum_at(t)
    panels.append(Panel("promql_instant", "promql", "/api/v1/query",
                        {"query": q, "time": t},
                        lambda b: _same_numbers(_vector(b, ["event_type"]),
                                                want_i),
                        (q, t, t, 15)))

    def search(name, start):
        q = '{ .service_name="svc1" && duration > 20ms }'
        want = orc.slow_traces(start, END, "svc1", 20 * 10**6, 20)

        def check(b):
            got = [t["traceID"] for t in json.loads(b)["traces"]]
            return None if got == want else "traces differ: %s vs %s" % (
                got[:3], want[:3])
        panels.append(Panel(name, "traceql", "/api/search",
                            {"q": q, "start": start, "end": END, "limit": 20},
                            check, (q, start, END, 60)))

    search("traceql_search_1d", d1)
    search("traceql_search_2d", full)

    def tags_check(b):
        got = set(json.loads(b)["tagNames"])
        base = {"name", "service_name", "user"}
        return None if base <= got else "tags %s lack %s" % (got, base)
    panels.append(Panel("tempo_tags", "traceql", "/api/search/tags", {},
                        tags_check))
    return {p.name: p for p in panels}


# Read-back of pushed rows, per pushed format: (route, params, answer -> rows).
# The metric read-back is a one-point range query with a 2d range over a 12h
# step: with range/step >= 16 the same query fails (see CHANGES.md).
def _count(body):
    res = json.loads(body)["data"]["result"]
    if not res:
        return 0
    s = res[0]
    return int(float((s["values"][-1] if "values" in s else s["value"])[1]))


READ_BACK = {
    "loki": ("/loki/api/v1/query",
             {"query": 'sum(count_over_time({job="bench_loki"}[3d]))',
              "time": END}, _count),
    "otlp_metrics": ("/api/v1/query_range",
                     {"query": "sum(count_over_time(bench_gauge[2d]))",
                      "start": END, "end": END, "step": "12h"}, _count),
}


def _lines_check(body, rows):
    """Every pushed log line, with its timestamp and host, and no other."""
    got = set()
    for s in json.loads(body)["data"]["result"]:
        host = s["stream"]["host"]
        got.update((int(ts), host, line) for ts, line in s["values"])
    want = set(rows)
    if got != want:
        return "lines differ: %d missing, %d extra" % (len(want - got),
                                                       len(got - want))
    return None


def _gauge_sums_check(body, rows):
    """Per-host sums of the pushed gauge values."""
    want = {}
    for _, host, v in rows:
        want[(host, END)] = want.get((host, END), 0.0) + v
    return _same_numbers(_matrix(body, ["host"]), want)


# Contents of pushed rows, per pushed format: (route, params,
# (answer, ledger rows) -> None or reason).
CONTENTS = {
    "loki": ("/loki/api/v1/query_range",
             {"query": '{job="bench_loki"}', "start": T0_S, "end": END,
              "limit": 5000}, _lines_check),
    "otlp_metrics": ("/api/v1/query_range",
                     {"query": "sum by (host) (sum_over_time(bench_gauge[2d]))",
                      "start": END, "end": END, "step": "12h"},
                     _gauge_sums_check),
}


def pushed_family_panel(ledger_by_host):
    """A panel over the pushed metric family, checked against the ledger."""
    q = "sum by (host) (count_over_time(bench_gauge[2d]))"

    def check(b):
        got = {k[0]: v for k, v in _matrix(b, ["host"]).items()}
        want = {h: float(n) for h, n in ledger_by_host().items()}
        return None if got == want else "pushed family %s vs %s" % (got, want)
    return Panel("promql_pushed_family", "promql", "/api/v1/query_range",
                 {"query": q, "start": END, "end": END, "step": "12h"}, check,
                 (q, END, END, 43200))


RULES_YAML = """name: bench
interval: 10m
rules:
  - record: bench_level_lines
    expr: sum by (level) (count_over_time({level=~"info|error"}[1h]))
  - alert: BenchErrorFlood
    expr: sum(count_over_time({level="error"}[1h])) > 100000
    for: 5m
"""
RULE_EXPR = 'sum by (level) (count_over_time({level=~"info|error"}[1h]))'
