"""Seeded GA report specs and the DuckDB SQL each one must equal.

A spec is a dict the JVM half turns into a `GaQuery` (see
`Workloads.gaQuery`): dimensions, metrics, a date range in 2024-01, a
`filters=` string, a user or session segment, a metric filter, sort
with start-index and max-results, and `chunkBy`. `oracle_sql` writes
the same report as plain SQL over the `events` table, so every report
the benchmark runs is checked against DuckDB.

Reports come in rounds: each round holds one report of every template
in a seeded order, so every seed runs the same mix of report shapes and
only the parameters (dates, thresholds, event types) differ.
"""

DIM_SQL = {
    "event_type": "event_type",
    "day": "CAST(ts AS DATE)",
    "hour": "hour(ts)",
    "kbucket": "CAST(regexp_extract(props, '([0-9]+)', 1) AS INTEGER) // 10",
}
METRIC_SQL = {
    "users": "COUNT(DISTINCT user_id)",
    "events": "COUNT(*)",
    "sessions": "COUNT(DISTINCT (user_id, _sid))",
    "total_value": "ROUND(SUM(value), 2)",
    "avg_value": "ROUND(AVG(value), 4)",
}
# metrics GaMetrics rounds: the engines may round a tie apart by one
# unit in the last place
ROUNDED = {"total_value": 0.01, "avg_value": 1e-4}
NUMERIC = {"value", "user_id"}
TYPES = ["click", "error", "purchase", "signup", "view"]
TEMPLATES = ["by_type", "daily_filtered", "hourly_value", "top_kbuckets",
             "type_sessions", "user_segment", "session_segment", "chunked"]


def _range(rng, n):
    """[start, end): `n` whole days inside 2024-01-01 .. 2024-01-31. The
    length is fixed per template, so a report's cost does not depend
    on the seed."""
    start = int(rng.integers(1, 32 - n))
    return [f"2024-01-{start:02d}", f"2024-01-{start + n:02d}"]


def spec(rng, template):
    """One report of `template` with seeded parameters. Filters are
    lists of OR-groups ANDed together; each clause is
    (field, operator, value)."""
    s = {"template": template, "dims": [], "metrics": [], "range": None,
         "filters": [], "segment": None, "having_events_gt": None,
         "sort": None, "start": None, "max": None, "chunk": None}
    pick = lambda xs, k: [str(x) for x in rng.choice(xs, k, replace=False)]
    if template == "by_type":
        s.update(dims=["event_type"],
                 metrics=["users", "events", "total_value"],
                 range=_range(rng, 14),
                 filters=[[("event_type", "=~",
                            "^(%s)$" % "|".join(pick(TYPES, 3)))]])
    elif template == "daily_filtered":
        a, b = pick(TYPES, 2)
        s.update(dims=["day"], metrics=["events", "users"],
                 range=_range(rng, 14),
                 filters=[[("event_type", "==", a), ("event_type", "==", b)],
                          [("value", ">", str(5 * int(rng.integers(1, 11))))]])
    elif template == "hourly_value":
        s.update(dims=["hour"], metrics=["events", "avg_value"],
                 filters=[[("value", ">=", str(int(rng.integers(0, 60))))]],
                 having_events_gt=int(rng.integers(10, 200)))
    elif template == "top_kbuckets":
        s.update(dims=["kbucket", "event_type"],
                 metrics=["events", "total_value"],
                 range=_range(rng, 21), sort="total_value",
                 start=int(rng.choice([1, 6, 11])), max=10)
    elif template == "type_sessions":
        s.update(dims=["event_type"], metrics=["sessions", "events"],
                 range=_range(rng, 14),
                 filters=[[("user_id", "<", str(int(rng.integers(500, 3000))))]])
    elif template == "user_segment":
        s.update(dims=["day"], metrics=["users", "events"],
                 range=_range(rng, 14),
                 segment=("users", [[("event_type", "==", "purchase")],
                                    [("value", ">", str(int(rng.integers(50, 300))))]]))
    elif template == "session_segment":
        s.update(dims=["event_type"], metrics=["sessions", "users"],
                 range=_range(rng, 14),
                 segment=("sessions", [[("event_type", "==", str(rng.choice(TYPES)))]]),
                 filters=[[("props", "!@", '"k": %d' % int(rng.integers(1, 10)))]])
    elif template == "chunked":
        s.update(dims=["day", "event_type"], metrics=["events", "users"],
                 range=_range(rng, 7), sort="events", max=25,
                 chunk="day")
    return s


def plan_rounds(rng, n_rounds, ops):
    """The operation sequence, in rounds. A round holds one report of
    every template and one run of every analysis op, each in a fresh
    seeded order, the ops between the reports. The first rounds are the
    warm-up, and the window runs whole rounds, so every run measures
    the same mix."""
    rounds = []
    for _ in range(n_rounds):
        rs = [spec(rng, str(t)) for t in rng.permutation(TEMPLATES)]
        op_runs = [{"op": str(o)} for o in rng.permutation(ops)]
        items = []
        for i, r in enumerate(rs):
            items.append(r)
            if i < len(op_runs):
                items.append(op_runs[i])
        items += op_runs[len(rs):]
        rounds.append(items)
    return rounds


def _escape(v):
    return v.replace("\\", "\\\\").replace(";", "\\;").replace(",", "\\,")


def ga_string(groups):
    """The GA `filters=` form: ',' = OR inside a group, ';' = AND."""
    return ";".join(",".join(f"ga:{f}{op}{_escape(v)}" for f, op, v in g)
                    for g in groups)


def to_jvm(s):
    """The spec as the JVM half reads it: filters and segment as GA
    strings."""
    out = dict(s)
    out["filters"] = ga_string(s["filters"]) if s["filters"] else None
    if s["segment"]:
        scope, groups = s["segment"]
        out["segment"] = f"{scope}::condition::{ga_string(groups)}"
    return out


def _clause_sql(field, op, v):
    lit = v if field in NUMERIC else "'" + v.replace("'", "''") + "'"
    return {
        "==": f"{field} = {lit}", "!=": f"{field} <> {lit}",
        ">": f"{field} > {lit}", "<": f"{field} < {lit}",
        ">=": f"{field} >= {lit}", "<=": f"{field} <= {lit}",
        "=@": f"contains({field}, {lit})",
        "!@": f"NOT contains({field}, {lit})",
        "=~": f"regexp_matches({field}, {lit})",
        "!~": f"NOT regexp_matches({field}, {lit})",
    }[op]


def _where_sql(groups):
    return " AND ".join(
        "(" + " OR ".join(_clause_sql(*c) for c in g) + ")" for g in groups)


def oracle_sql(s):
    """The report as DuckDB SQL: 30-minute-gap sessions over the whole
    stream, then filter, segment, group, metric filter, sort and
    page."""
    sessions = "sessions" in s["metrics"] or (
        s["segment"] and s["segment"][0] == "sessions")
    ctes = ["ev AS (SELECT *, epoch_us(ts) AS us FROM events)"]
    if sessions:
        ctes.append(
            "base AS (SELECT *, SUM(CASE WHEN prev IS NULL OR "
            "us - prev > 1800000000 THEN 1 ELSE 0 END) OVER (PARTITION BY "
            "user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS _sid "
            "FROM (SELECT *, LAG(us) OVER (PARTITION BY user_id ORDER BY us, "
            "event_id) AS prev FROM ev))")
    else:
        ctes.append("base AS (SELECT * FROM ev)")
    where = []
    if s["range"]:
        a, b = s["range"]
        where.append(f"ts >= TIMESTAMP '{a}' AND ts < TIMESTAMP '{b}'")
    if s["filters"]:
        where.append(_where_sql(s["filters"]))
    join = ""
    if s["segment"]:
        scope, groups = s["segment"]
        if scope == "users":
            where.append("user_id IN (SELECT user_id FROM ev WHERE "
                         f"{_where_sql(groups)})")
        else:
            ctes.append("seg AS (SELECT DISTINCT user_id, _sid FROM base "
                        f"WHERE {_where_sql(groups)})")
            join = " SEMI JOIN seg USING (user_id, _sid)"
    cols = [f"{DIM_SQL[d]} AS {d}" for d in s["dims"]] + [
        f"{METRIC_SQL[m]} AS {m}" for m in s["metrics"]]
    sql = f"SELECT {', '.join(cols)} FROM base{join}"
    if where:
        sql += " WHERE " + " AND ".join(where)
    if s["dims"]:
        sql += " GROUP BY " + ", ".join(
            str(i + 1) for i in range(len(s["dims"])))
    sql = f"SELECT * FROM ({sql}) r"
    if s["having_events_gt"] is not None:
        sql += f" WHERE events > {s['having_events_gt']}"
    if s["sort"]:
        sql += f" ORDER BY {s['sort']} DESC NULLS LAST" + "".join(
            f", {d} ASC NULLS FIRST" for d in s["dims"])
    if s["max"] is not None:
        sql += f" LIMIT {s['max']}"
    if s["start"]:
        sql += f" OFFSET {s['start'] - 1}"
    return "WITH " + ", ".join(ctes) + " " + sql
