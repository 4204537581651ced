#!/usr/bin/env python3
"""Compare two `graft.Explain` outputs key by key.

    python3 tools/compare_plans.py <explainA> <explainB> [key1,key2,...]

Each input is the stdout of `graft.Explain <sf> <keys>` (best with
GRAFT_EXPLAIN_MODE=formatted), split into plans on its `===== <key>`
lines. Run-specific noise is stripped before comparing: expression ids
(`#123`), `plan_id=`, RDD ids and their call-site line numbers
(`at FlowOps.scala:110`), /tmp paths and the process id in
`<sfhash>_p<pid>` table names. For every key the tool prints the
Exchange, Window, aggregate and join operator counts of both sides and
the lines that differ. Exits 1 when any key differs (or is
missing on one side), 0 when every plan is equal after stripping.
"""
import difflib
import re
import sys

NOISE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\[id=#?\d+\]"), "[id=]"),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[]"),
    (re.compile(r"\bat (\w+\.scala):\d+"), r"at \1:"),
    (re.compile(r"(_[0-9a-f]+_p)\d+"), r"\1"),
    (re.compile(r"file:/tmp/\S*|/tmp/[^\s,\]\)]*"), "/tmp/…"),
]

# `===== <key>` opens a plan; formatted mode's own `===== Subqueries
# =====` banner has a space in it, so it stays inside the plan
HEADER = re.compile(r"^===== (\S+)$")

OPERATORS = {
    "exchange": re.compile(r"\bExchange\b"),
    "window": re.compile(r"\bWindow(?:GroupLimit)?\b"),
    "aggregate": re.compile(r"\b(?:Hash|ObjectHash|Sort)Aggregate\b"),
    "join": re.compile(r"\b\w*Join\b"),
}


def split_plans(path):
    plans, key = {}, None
    with open(path) as f:
        for line in f:
            line = line.rstrip("\n")
            m = HEADER.match(line)
            if m:
                key = m.group(1)
                plans[key] = []
            elif key is not None:
                plans[key].append(line)
    return plans


def normalize(lines):
    out = []
    for line in lines:
        for pat, rep in NOISE:
            line = pat.sub(rep, line)
        out.append(line.rstrip())
    return out


def operator_lines(lines):
    """The physical-plan lines: in formatted mode the numbered
    `(n) Op` detail headers, otherwise every tree line."""
    headers = [l for l in lines if re.match(r"^\(\d+\) ", l)]
    return headers or lines


def counts(lines):
    ops = operator_lines(lines)
    return {name: sum(len(p.findall(l)) for l in ops)
            for name, p in OPERATORS.items()}


def main(argv):
    if len(argv) not in (3, 4):
        sys.exit(__doc__.strip().splitlines()[2].strip())
    a, b = split_plans(argv[1]), split_plans(argv[2])
    keys = (argv[3].split(",") if len(argv) == 4
            else sorted(set(a) | set(b)))
    bad = []
    for k in keys:
        k = k.strip()
        if k not in a or k not in b:
            print(f"{k}: missing in {'A' if k not in a else 'B'}")
            bad.append(k)
            continue
        na, nb = normalize(a[k]), normalize(b[k])
        ca, cb = counts(na), counts(nb)
        diff = [l for l in difflib.unified_diff(na, nb, "A", "B",
                                                 lineterm="", n=0)
                if l[:1] in "+-" and l[:3] not in ("+++", "---")]
        status = "equal" if not diff else f"{len(diff)} differing lines"
        print(f"{k}: A {ca} | B {cb} | {status}")
        for l in diff:
            print(f"    {l}")
        if diff or ca != cb:
            bad.append(k)
    print(f"{len(keys) - len(bad)}/{len(keys)} plans equal"
          + (f"; differ: {', '.join(bad)}" if bad else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
