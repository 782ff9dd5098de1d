"""Output checks: the benchmark JVM's records against the generator's truth.

Every upload is checked for its staged, rejected and appended counts (a
re-upload appends nothing to any table); every BI query for its exact
cents; every pass for the final fact row count, per-month cents and the
five dimension cardinalities; the run for leftover catalog roots.
"""


def _upload(rec, want):
    out = []
    for key in ("staged", "rejected"):
        if rec[key] != want[key]:
            out.append(f"{key} {rec[key]} != expected {want[key]}")
    fact = rec["appended"].get("fato_lancamento")
    if fact != want["appended"]:
        out.append(f"appended fact rows {fact} != expected {want['appended']}")
    if want["op"][0] == "reupload" and any(rec["appended"].values()):
        out.append(f"re-upload appended rows: {rec['appended']}")
    return out


def _query(rec, want):
    res, q = rec["result"], want["op"][1:]
    if q[0] == "monthly":
        return [] if res == want["dashboard"] else ["monthlyByTipo totals differ"]
    if q[0] == "drilldown":
        leaves = {k: v for k, v in res.items() if all(k.split("|"))}
        out = [] if leaves == want["drilldown"] else ["categoryDrilldown leaves differ"]
        total = [sum(c for c, _ in want["drilldown"].values()), want["fact_rows"]]
        if res.get("||") != total:
            out.append("categoryDrilldown grand total differs")
        return out
    if q[0] == "share":
        out = [] if {k: v[0] for k, v in res.items()} == want["share"] else [
            f"classificationShare {q[1]}-{q[2]} totals differ"]
        if abs(sum(v[1] for v in res.values()) - 1.0) > 1e-6:
            out.append(f"classificationShare {q[1]}-{q[2]} shares do not sum to 1")
        return out
    return [f"unknown query {q}"]


def _state(rec, expect):
    out = []
    if rec["fact_rows"] != expect["fact_rows"]:
        out.append(f"fact rows {rec['fact_rows']} != expected {expect['fact_rows']}")
    if rec["month_cents"] != expect["month_cents"]:
        out.append("per-month cents differ")
    if rec["dims"] != expect["dims"]:
        out.append(f"dims {rec['dims']} != expected {expect['dims']}")
    return out


def check(records, plan):
    """Returns (failures, attempted): one failure line per wrong
    operation or pass state. Attempted counts the measured operations,
    the pass states and the run's clean-up."""
    failures, attempted = [], 0
    measured = [r for r in records if r["type"] in ("op", "pass") and r["pass"] >= 0]
    if not measured:
        failures.append("no measured pass")
    for r in measured:
        attempted += 1
        entries, state = plan[r["pass"]]
        if r["type"] == "pass":
            problems, where = _state(r, state), f"pass {r['pass']} final state"
        else:
            want = entries[r["index"]]
            check_op = _query if want["op"][0] == "bi" else _upload
            problems = check_op(r, want)
            where = f"pass {r['pass']} op {r['index']} ({' '.join(want['op'])})"
        failures += [f"{where}: {x}" for x in problems]
    passes = {r["pass"] for r in measured}
    done = {r["pass"] for r in measured if r["type"] == "pass"}
    failures += [f"pass {p} did not finish" for p in sorted(passes - done)]
    attempted += 1
    end = [r for r in records if r["type"] == "end"]
    if not end or end[0]["roots_left"] != 0:
        failures.append("catalog roots left behind")
    return failures, max(1, attempted)
