"""Metrics derived from the benchmark JVM's records.

End-to-end metrics (timed runs) are the same names on every workload;
README.md maps them to what each workload's user sees. Per-layer metrics
(traced runs) come from the measured passes of a traced run: times are
medians per operation, counts are means per operation.
"""

import json
import statistics

LOADERS = ["dim_tempo", "dim_tipo", "dim_classificacao", "dim_grupo", "dim_categoria",
           "fato", "compaction", "other"]
SPAN_NAMES = ["op.upload", "op.reupload", "ingest.run", "warehouse.run", "op.bi",
              "bi.build", "bi.plan", "bi.exec"]

END_TO_END = {
    "setup_s": "s",
    "pass_total_s": "s",
    "upload_s_p50": "s",
    "reupload_s_p50": "s",
    "refresh_s_p50": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = dict(
    [
        ("ingest.wall_ms", "ms"), ("ingest.exec_cpu_ms", "ms"), ("ingest.jobs", "count"),
        ("ingest.input_bytes", "bytes"), ("ingest.rows_staged", "count"),
        ("ingest.rows_rejected", "count"),
        ("warehouse.wall_ms", "ms"), ("warehouse.jobs", "count"), ("warehouse.tasks", "count"),
        ("warehouse.exec_cpu_ms", "ms"), ("warehouse.append_ratio", "ratio"),
    ]
    + [(f"warehouse.{ld}.{m}", u) for ld in LOADERS for m, u in (("wall_ms", "ms"), ("jobs", "count"))]
    + [
        ("catalog.live_commits.fato_lancamento", "count"), ("catalog.files", "count"),
        ("catalog.bytes_per_input_byte", "ratio"), ("catalog.compactions", "count"),
        ("catalog.compaction_upload_ms", "ms"),
        ("bi.build_ms", "ms"), ("bi.plan_ms", "ms"), ("bi.exec_ms", "ms"), ("bi.jobs", "count"),
        ("bi.tasks", "count"), ("bi.exec_cpu_ms", "ms"), ("bi.files_read", "count"),
        ("bi.bytes_read", "bytes"),
        ("spark.core_util", "ratio"), ("spark.gc_ms", "ms"), ("spark.shuffle_write_bytes", "bytes"),
        ("spark.spill_bytes", "bytes"),
        ("trace.overhead_frac", "ratio"), ("trace.spans", "count"),
    ]
    + [(f"self_ms.{n}", "ms") for n in SPAN_NAMES]
)

# the end-to-end names each workload's user would use for the same numbers
ALIASES = {
    "ledger_monthly": {"pass_total_s": "monthly_total_s", "upload_s_p50": "upload_s_p50",
                       "reupload_s_p50": "reupload_s_p50", "refresh_s_p50": "dashboard_s_p50"},
    "ledger_backfill": {"pass_total_s": "backfill_total_s", "upload_s_p50": "backfill_load_s",
                        "reupload_s_p50": "backfill_rerun_s", "refresh_s_p50": "backfill_bi_s_p50"},
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def _kind(r):
    return r["op"].split(" ")[0]


def folds(r):
    """Tables an upload folded back to fewer live commits."""
    return [t for t, n in r["commits_before"].items() if r["commits_after"].get(t, 0) < n]


def derive(workload, records, cores, trace, spans_path=None):
    """Returns (metrics, conditions). `metrics` maps name -> {value, unit}."""
    setups = [r["ms"] for r in records if r["type"] == "setup"]
    ops = [r for r in records if r["type"] == "op" and r["pass"] >= 0]
    passes = [r for r in records if r["type"] == "pass"]
    end = next(r for r in records if r["type"] == "end")

    def walls(kind, key="wall_ms"):
        return [r[key] / 1000 for r in ops if _kind(r) == kind]

    def plain_uploads(key="wall_ms"):
        """Uploads that did not fold a table: the folding one is left to
        pass_total_s."""
        return [r[key] / 1000 for r in ops if _kind(r) == "upload" and not folds(r)]

    def totals(key):
        return [sum(r[key] for r in ops if r["pass"] == p["pass"]) / 1000 for p in passes]

    def timed(key):
        """`key` (wall, process CPU or JIT time) per timed metric, in s."""
        return {
            "pass_total_s": _median(totals(key)),
            "upload_s_p50": _median(plain_uploads(key)),
            "reupload_s_p50": _median(walls("reupload", key)),
            "refresh_s_p50": _median(walls("bi", key)),
        }

    e2e = {"setup_s": _median(setups) / 1000, **timed("wall_ms"),
           "peak_rss_mb": end["peak_rss_mb"]}
    conditions = {
        "passes": len(passes),
        "samples": {"setup": len(setups), "upload": len(plain_uploads()),
                    "reupload": len(walls("reupload")), "refresh": len(walls("bi"))},
        "setup_s_samples": [s / 1000 for s in setups],
        "pass_total_s_samples": totals("wall_ms"),
        "folding_upload_s": [r["wall_ms"] / 1000 for r in ops if _kind(r) == "upload" and folds(r)],
        # process CPU (client + in-process executors) and JIT compiler
        # time beside each wall time
        "cpu_s": timed("cpu_ms"),
        "jit_s": timed("jit_ms"),
        "as_named_for_workload": {ALIASES[workload][k]: e2e[k] for k in ALIASES[workload]},
    }
    if not trace:
        return {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}, conditions
    values = per_layer(records, cores, spans_path)
    return {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}, conditions


def _layer(r, name, key):
    return r.get("layers", {}).get(name, {}).get(key, 0)


def per_layer(records, cores, spans_path):
    """Per-layer values from the measured passes of a traced run."""
    ops = [r for r in records if r["type"] == "op" and r["pass"] >= 0]
    passes = [r for r in records if r["type"] == "pass"]
    state = passes[-1]
    ups = [r for r in ops if _kind(r) in ("upload", "reupload")]
    bis = [r for r in ops if _kind(r) == "bi"]
    v = {
        "ingest.wall_ms": _median([r["ingest_ms"] for r in ups]),
        "ingest.exec_cpu_ms": _median([_layer(r, "ingest", "exec_cpu_ms") for r in ups]),
        "ingest.jobs": _mean([_layer(r, "ingest", "jobs") for r in ups]),
        "ingest.input_bytes": _mean([r["input_bytes"] for r in ups]),
        "ingest.rows_staged": _mean([r["staged"] for r in ups]),
        "ingest.rows_rejected": _mean([r["rejected"] for r in ups]),
        "warehouse.wall_ms": _median([r["warehouse_ms"] for r in ups]),
        "warehouse.jobs": _mean([_layer(r, "warehouse", "jobs") for r in ups]),
        "warehouse.tasks": _mean([_layer(r, "warehouse", "tasks") for r in ups]),
        "warehouse.exec_cpu_ms": _median([_layer(r, "warehouse", "exec_cpu_ms") for r in ups]),
        "warehouse.append_ratio": (sum(r["appended"].get("fato_lancamento", 0) for r in ups)
                                   / max(1, sum(r["staged"] for r in ups))),
    }
    for ld in LOADERS:
        v[f"warehouse.{ld}.wall_ms"] = _mean([_layer(r, f"warehouse.{ld}", "window_ms") for r in ups])
        v[f"warehouse.{ld}.jobs"] = _mean([_layer(r, f"warehouse.{ld}", "jobs") for r in ups])
    compacted = [r for r in ups if folds(r)]
    # every file in the last pass's catalog: a shared catalog holds the
    # warm-up month too; the backfill warm-up goes to a throwaway catalog
    distinct_inputs = {r["op"].split(" ")[1]: r["input_bytes"] for r in records
                       if r["type"] == "op" and "input_bytes" in r
                       and r["op"] != "upload warmup.csv"}
    v.update({
        "catalog.live_commits.fato_lancamento":
            _mean([r["commits_after"].get("fato_lancamento", 0) for r in ups]),
        "catalog.files": state["catalog_files"],
        "catalog.bytes_per_input_byte": state["catalog_bytes"] / max(1, sum(distinct_inputs.values())),
        "catalog.compactions": sum(len(folds(r)) for r in ups),
        "catalog.compaction_upload_ms": _mean([r["wall_ms"] for r in compacted]),
        "bi.build_ms": _median([r["build_ms"] for r in bis]),
        "bi.plan_ms": _median([r["plan_ms"] for r in bis]),
        "bi.exec_ms": _median([r["exec_ms"] for r in bis]),
        "bi.jobs": _mean([_layer(r, "bi", "jobs") for r in bis]),
        "bi.tasks": _mean([_layer(r, "bi", "tasks") for r in bis]),
        "bi.exec_cpu_ms": _median([_layer(r, "bi", "exec_cpu_ms") for r in bis]),
        "bi.files_read": _mean([r.get("files_read", 0) for r in bis]),
        "bi.bytes_read": _mean([_layer(r, "bi", "input_bytes") for r in bis]),
    })
    labels = ("ingest", "warehouse", "bi")
    run_ms = sum(_layer(r, lb, "exec_run_ms") for r in ops for lb in labels)
    wall_ms = sum(r["wall_ms"] for r in ops)
    v.update({
        "spark.core_util": run_ms / max(1e-9, wall_ms * cores),
        "spark.gc_ms": sum(_layer(r, lb, "gc_ms") for r in ops for lb in labels),
        "spark.shuffle_write_bytes": sum(_layer(r, lb, "shuffle_write_bytes") for r in ops for lb in labels),
        "spark.spill_bytes": sum(_layer(r, lb, "spill_bytes") for r in ops for lb in labels),
        # client-thread time in instrumentation (bus drains, plan walks)
        # over the operations' wall time
        "trace.overhead_frac": sum(p["instrument_ms"] for p in passes) / max(1e-9, wall_ms),
    })
    spans = read_spans(spans_path)
    v["trace.spans"] = len(spans)
    selfs = self_times(spans)
    for n in SPAN_NAMES:
        v[f"self_ms.{n}"] = selfs.get(n, 0.0)
    return v


def read_spans(path):
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def self_times(spans):
    """Total self time per span name, ms: a span's duration minus the part
    of it its child spans cover (children of one span do not overlap:
    the benchmark is a single closed-loop client)."""
    child_us = {}
    for s in spans:
        if s["parent"]:
            key = (s["trace"], s["parent"])
            child_us[key] = child_us.get(key, 0) + s["end_us"] - s["start_us"]
    out = {}
    for s in spans:
        own = s["end_us"] - s["start_us"] - child_us.get((s["trace"], s["id"]), 0)
        out[s["name"]] = out.get(s["name"], 0.0) + own / 1000
    return out


def layer_table(result_metrics):
    """The traced run's per-layer table, markdown."""
    rows = ["| metric | value | unit |", "| --- | ---: | --- |"]
    for k, m in result_metrics.items():
        rows.append(f"| {k} | {m['value']:.4g} | {m['unit']} |")
    return "\n".join(rows) + "\n"
