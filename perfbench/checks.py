"""Correctness checks on the outputs a run recorded. Each check returns
the indexes of the samples it found wrong, with the reason."""
import math

import duckdb

import reports


def _norm(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float)):
        return float(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return float(v)  # Decimal


def _canon(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    key = lambda t: tuple(round(x, 2) if isinstance(x, float) else str(x)
                          for x in t)
    return [columns[i] for i in order], sorted(out, key=key)


def same_table(spark, oracle, tol=None):
    """Equal columns and rows, in any row order. Floats may differ by
    1e-9 relative, or by one rounding unit for columns in `tol`."""
    tol = tol or {}
    sc, sr = _canon(*spark)
    oc, orows = _canon(*oracle)
    if sc != oc:
        return f"columns {sc} != {oc}"
    if len(sr) != len(orows):
        return f"{len(sr)} rows != {len(orows)}"
    for a, b in zip(sr, orows):
        for c, x, y in zip(sc, a, b):
            if isinstance(x, float) and isinstance(y, float):
                lim = max(1e-9 * max(1.0, abs(x), abs(y)),
                          tol.get(c, 0.0) * 1.0001)
                if not (abs(x - y) <= lim or
                        (math.isnan(x) and math.isnan(y))):
                    return f"{c}: {x} != {y}"
            elif x != y:
                return f"{c}: {x!r} != {y!r}"
    return None


def _duck(data, threads=4):
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in sorted(p.stem for p in data.glob("*.parquet")):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    return con


def _query(con, sql):
    rel = con.sql(sql)
    return rel.columns, rel.fetchall()


def ga_dashboard(data, samples, specs, oracle_ops):
    """Every report against its oracle SQL; every analysis op's warm-up
    output against the op's registered oracle SQL."""
    con = _duck(data)
    bad = {}
    for i, s in enumerate(samples):
        if not s["ok"] or s["output"] is None:
            continue
        out = (s["output"]["columns"], s["output"]["rows"])
        if i in specs:
            want = _query(con, reports.oracle_sql(specs[i]))
            why = same_table(out, want, reports.ROUNDED)
        else:
            why = same_table(out, _query(con, oracle_ops[s["name"]]))
        if why:
            bad[i] = why
    return bad


def ingest_ticks(samples):
    """After each tick the reader sees exactly the tick's reported
    counts, reader counts never decrease, and the last tick's counts
    equal a one-shot curate of the same docs."""
    bad = {}
    last_read, last_report = None, None
    for i, s in enumerate(samples):
        if not s["ok"]:
            continue
        if s["name"] == "tick":
            if s["output"]["v"] == 1:  # a fresh base
                last_read = None
            last_report = [(r[2], r[3]) for r in s["output"]["report"]]
        elif s["name"] == "read":
            got = [(n, t) for _, n, t in s["output"]]
            if last_report is not None and got != last_report:
                bad[i] = f"reader {got} != tick report {last_report}"
            if last_read and any(g < p for g, p in zip(got, last_read)):
                bad[i] = f"reader counts fell: {last_read} -> {got}"
            last_read = got
        elif s["name"] == "one_shot":
            want = [(r[2], r[3]) for r in s["output"]]
            if want != last_report:
                bad[i] = f"ticks {last_report} != one-shot {want}"
    return bad
