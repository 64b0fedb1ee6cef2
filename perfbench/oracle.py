"""Expected panel answers, computed with DuckDB straight from events.parquet.

Each function re-derives one panel from the raw events with the
derivations `graft.model.Tables` documents (logs, gauge, counter with
resets mod 10000, histogram buckets, spans), independently of the
program. Results are keyed the way the checks in panels.py read the
server's JSON.
"""
import duckdb

NS = 10**9

VIEWS = """
WITH ev AS (SELECT event_id, epoch_us(ts) * 1000 AS ts_ns, user_id, event_type,
                   value, props,
                   CASE WHEN event_type = 'error' THEN 'error' ELSE 'info' END AS level
            FROM read_parquet('{path}')),
counters AS (
  SELECT ts_ns, event_type,
         fmod(SUM(value) OVER (PARTITION BY event_type ORDER BY ts_ns
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 10000) AS value
  FROM ev),
lc AS (
  SELECT *, lag(value) OVER (PARTITION BY event_type ORDER BY ts_ns) AS prev_val,
            lag(ts_ns) OVER (PARTITION BY event_type ORDER BY ts_ns) AS prev_ts
  FROM counters),
buckets AS (
  SELECT e.ts_ns, l.le,
         SUM(CASE WHEN e.value <= l.le THEN 1.0 ELSE 0.0 END)
           OVER (PARTITION BY e.event_type, l.le ORDER BY e.ts_ns
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
         e.event_type
  FROM ev e CROSS JOIN (SELECT unnest([10.0, 25.0, 50.0, 100.0, 250.0,
                                       'inf'::DOUBLE]) AS le) l),
grid AS (SELECT unnest(generate_series({start}, {end}, {step})) AS t)
"""


class Oracle:
    def __init__(self, events_path):
        self.path = events_path
        self.db = duckdb.connect()

    def sql(self, body, start=0, end=0, step=1):
        return self.db.sql(VIEWS.format(path=self.path, start=start, end=end,
                                        step=step) + body).fetchall()

    def level_counts(self, start, end, step, rng):
        """sum by (level) (count_over_time({level=~"info|error"}[rng])).

        LogQL buckets as LogQLCompiler documents them: labels start at
        floor(start/step)*step and stay below `end`; bucket t counts the
        lines in [t+step-rng, t+step).
        """
        first = start - start % step
        last = (end - 1) - (end - 1) % step
        rows = self.sql("""
          SELECT level, t, count(*) FROM ev JOIN grid
            ON ts_ns >= (t + %d) * 1000000000 AND ts_ns < (t + %d) * 1000000000
          GROUP BY 1, 2""" % (step - rng, step), first, last, step)
        return {(lv, t): float(n) for lv, t, n in rows}

    def filtered_lines(self, start, end, needle, limit):
        """{event_type="error"} |= needle, newest `limit` lines."""
        rows = self.sql("""
          SELECT ts_ns, props FROM ev
          WHERE event_type = 'error' AND contains(props, '%s')
            AND ts_ns >= %d AND ts_ns <= %d
          ORDER BY ts_ns DESC LIMIT %d""" % (needle.replace("'", "''"),
                                             start * NS, end * NS, limit))
        return set((str(ts), line) for ts, line in rows)

    def user_values(self, start, end):
        rows = self.sql("""
          SELECT DISTINCT CAST(user_id AS VARCHAR) FROM ev
          WHERE ts_ns >= %d AND ts_ns <= %d""" % (start * NS, end * NS))
        return sorted(r[0] for r in rows)

    def rate_by_type(self, start, end, step, rng):
        """sum by (event_type) (rate(events_total[rng]))"""
        rows = self.sql("""
          SELECT event_type, t, (l - f + rc) / %d FROM (
            SELECT c.event_type, t, count(*) AS n,
              arg_min(c.value, c.ts_ns) AS f, arg_max(c.value, c.ts_ns) AS l,
              sum(CASE WHEN c.prev_ts > (t - %d) * 1000000000
                        AND c.prev_val > c.value THEN c.prev_val ELSE 0 END) AS rc
            FROM lc c JOIN grid
              ON c.ts_ns > (t - %d) * 1000000000 AND c.ts_ns <= t * 1000000000
            GROUP BY 1, 2) WHERE n >= 2""" % (rng, rng, rng), start, end, step)
        return {(et, t): v for et, t, v in rows}

    def p90_latency(self, start, end, step, rng):
        """histogram_quantile(0.9, sum by (le) (rate(events_bucket[rng])))"""
        rows = self.sql("""
          SELECT t, CASE
              WHEN total <= 0 THEN NULL
              WHEN ls[bc + 1] = 'inf'::DOUBLE THEN ls[len(ls) - 1]
              ELSE (CASE WHEN bc = 0 THEN 0.0 ELSE ls[bc] END)
                 + (ls[bc + 1] - (CASE WHEN bc = 0 THEN 0.0 ELSE ls[bc] END))
                 * (rank - (CASE WHEN bc = 0 THEN 0.0 ELSE vs[bc] END))
                 / (vs[bc + 1] - (CASE WHEN bc = 0 THEN 0.0 ELSE vs[bc] END))
            END FROM (
            SELECT t, ls, vs, vs[len(vs)] AS total, vs[len(vs)] * 0.9 AS rank,
              len(vs) - len(list_filter(vs, x -> x >= vs[len(vs)] * 0.9)) AS bc
            FROM (SELECT t, list(le ORDER BY le) AS ls, list(v ORDER BY le) AS vs
                  FROM (SELECT le, t, sum(v) AS v FROM (
                          SELECT b.event_type, b.le, t, count(*) AS n,
                            (arg_max(b.value, b.ts_ns) - arg_min(b.value, b.ts_ns))
                              / %d.0 AS v
                          FROM buckets b JOIN grid
                            ON b.ts_ns > (t - %d) * 1000000000
                           AND b.ts_ns <= t * 1000000000
                          GROUP BY 1, 2, 3) WHERE n >= 2 GROUP BY 1, 2)
                  GROUP BY 1))""" % (rng, rng), start, end, step)
        return {(t,): v for t, v in rows if v is not None}

    def gauge_sum_at(self, t):
        """sum by (event_type) (events_value) at t, 5m staleness."""
        rows = self.sql("""
          SELECT event_type, sum(v) FROM (
            SELECT event_type, level, arg_max(value, ts_ns) AS v FROM ev
            WHERE ts_ns > %d AND ts_ns <= %d GROUP BY 1, 2) GROUP BY 1"""
                        % ((t - 300) * NS, t * NS))
        return {(et, t): v for et, v in rows}

    def slow_traces(self, start, end, svc, min_ns, limit):
        """{ .service_name=svc && duration > min } newest `limit` traces."""
        rows = self.sql("""
          SELECT trace_id FROM (
            SELECT event_id // 10 AS trace_id, min(ts_ns) AS start_ns,
                   bool_or('svc' || CAST(user_id %% 5 AS VARCHAR) = '%s'
                           AND round(value * 1e6) > %d
                           AND ts_ns >= %d AND ts_ns <= %d) AS hit
            FROM ev GROUP BY 1) WHERE hit
          ORDER BY start_ns DESC, trace_id LIMIT %d"""
                        % (svc, min_ns, start * NS, end * NS, limit))
        return ["%016x" % r[0] for r in rows]
