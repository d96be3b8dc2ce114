"""The traced run: every layer of every workload, in one process.

``collect`` runs, with spans and job groups on: the chosen workload's
passes, one warmed pass of each other workload, the engine floors and
native twins, and the driver-side kernel and codec floors. ``metrics``
joins the spans with the event log once the session has stopped and
returns every per-layer metric in PER_LAYER, plus one span table per
workload.
"""

from __future__ import annotations

import os
import statistics

from layers import codec_floors, kernel_floors, spark_floors
from tracing import COUNTERS, layer_table, span_counters

WORKLOAD_NAMES = ("pages_ingest", "seen_before_probe", "host_rollup")
_COUNTER_UNITS = {"python_mb_sent": "MB", "python_mb_returned": "MB",
                  "python_init_s": "s", "python_run_s": "s",
                  "shuffle_write_mb": "MB", "tasks": "count", "gc_s": "s",
                  "spill_mb": "MB"}
# span name → per-layer metric holding its median wall
_SPAN_METRICS = {
    "spark.scan_hash": "spark.scan_hash_s",
    "spark.tokenize_hash": "spark.tokenize_hash_s",
    "spark.arrow_pandas_url": "spark.arrow_pandas_url_s",
    "spark.arrow_pandas_token": "spark.arrow_pandas_token_s",
    "spark.arrow_arrow_url": "spark.arrow_arrow_url_s",
    "spark.native_hll": "spark.native_hll_s",
    "spark.native_bloom": "spark.native_bloom_s",
    "spark.native_cms": "spark.native_cms_s",
    "spark.native_kll": "spark.native_kll_s",
    "spark.native_hll_grouped": "spark.native_hll_grouped_s",
    "operators.agg.build_hll_url": "operators.agg.build_hll_url_s",
    "operators.agg.build_bloom_url": "operators.agg.build_bloom_url_s",
    "operators.agg.build_cms_token": "operators.agg.build_cms_token_s",
    "operators.agg.build_grouped_host": "operators.agg.build_grouped_host_s",
    "operators.agg.probe_membership": "operators.agg.probe_membership_s",
    "operators.agg.cms_lookup": "operators.agg.cms_lookup_s",
    "operators.sharded.build": "operators.sharded.build_s",
    "operators.sharded.probe": "operators.sharded.probe_s",
    "operators.rollup.build": "operators.rollup.build_s",
    "operators.rollup.group_estimates": "operators.rollup.group_estimates_s",
    "operators.rollup.slices": "operators.rollup.slices_s",
    "plans.queries.distinct_hosts": "plans.queries.distinct_hosts_s",
    "plans.queries.text_length_quantiles":
        "plans.queries.text_length_quantiles_s",
    "sources.pages.stage": "sources.pages.stage_s",
}
# library build → its native twin, reported as a ratio of walls
_NATIVE_RATIOS = {
    "operators.agg.build_hll_url_vs_native": (
        "operators.agg.build_hll_url_s", "spark.native_hll_s"),
    "operators.agg.build_bloom_url_vs_native": (
        "operators.agg.build_bloom_url_s", "spark.native_bloom_s"),
    "operators.agg.build_cms_token_vs_native": (
        "operators.agg.build_cms_token_s", "spark.native_cms_s"),
    "operators.agg.build_grouped_host_vs_native": (
        "operators.agg.build_grouped_host_s", "spark.native_hll_grouped_s"),
    "plans.queries.text_length_quantiles_vs_native": (
        "plans.queries.text_length_quantiles_s", "spark.native_kll_s"),
}
_KERNEL_UNITS = {
    **{f"kernels.{k}_ns": "ns" for k in (
        "hll_update", "bloom_update", "cms_update", "kll_update",
        "bloom_contains", "cms_estimate", "grouped_hll_fold")},
    "kernels.hll_merge_us": "us",
    **{f"kernels.base.{kind}_{what}": unit
       for kind in ("hll_sparse", "hll_dense", "bloom", "cms")
       for what, unit in (("encode_us", "us"), ("decode_us", "us"),
                          ("bytes", "bytes"))},
}

PER_LAYER: dict[str, str] = {
    "context.phase_factor": "ratio",
    "trace.docs_per_s": "docs/s",
    "trace.untraced_docs_per_s": "docs/s",
    "trace.overhead_pct": "%",
    "session.start_s": "s",
    "sources.pages.stage_s": "s",
    "sources.pages.stage_docs_per_s": "docs/s",
    **{m: "s" for m in _SPAN_METRICS.values() if m != "sources.pages.stage_s"},
    "spark.python_task_init_ms": "ms",
    **{m: "ratio" for m in _NATIVE_RATIOS},
    **_KERNEL_UNITS,
    "operators.agg.input_partitions": "count",
    "operators.agg.tree_levels": "count",
    "operators.rollup.cube_rows": "count",
    "operators.rollup.cube_mb": "MB",
    **{f"{w}.pass_s": "s" for w in WORKLOAD_NAMES},
    **{f"{w}.{c}": _COUNTER_UNITS[c] for w in WORKLOAD_NAMES for c in COUNTERS},
    "seen_before_probe.bloom_fpr_observed": "ratio",
}


def collect(spark, fx, wl, tracer, n_passes: int) -> dict:
    """Traced passes of ``wl``, one warmed pass of each other workload,
    then the floors. → raw measurements for ``metrics``."""
    from workloads import WORKLOADS, set_up, timed_passes

    passes = timed_passes(wl, 0, n_passes)
    done = {wl.name: wl}
    for name in WORKLOAD_NAMES:
        if name in done:
            continue
        other = done[name] = WORKLOADS[name](fx, tracer)
        passes += set_up(other, 1) + timed_passes(other, 0, 1)
    tracer.pass_id = None
    floors = spark_floors(fx.pages, fx.n, tracer.span)
    with tracer.span("kernels.inputs"):
        kernels, sketches = kernel_floors(fx.pages, fx.n)
    cube = done["host_rollup"].cube_path
    cube_bytes = sum(os.path.getsize(os.path.join(d, f))
                     for d, _, files in os.walk(cube) for f in files
                     if f.endswith(".parquet"))
    return {"passes": passes,
            "floors": {**floors, **kernels, **codec_floors(sketches)},
            "cube_rows": spark.read.parquet(cube).count(),
            "cube_mb": cube_bytes / (1 << 20),
            "fpr": done["seen_before_probe"].observed_fpr}


def _workload_of(spans: list[dict]) -> dict:
    """span id → the workload whose pass, set-up or warm-up contains it."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for s in spans:
        root = s
        while root["parent"] is not None:
            root = by_id[root["parent"]]
        out[s["id"]] = root["name"].split(".")[0]
    return out


def metrics(raw: dict, spans: list[dict], groups: dict, wl_name: str,
            session_s: float, docs: int, input_partitions: int,
            phase_factor: float, untraced_dps: float):
    """→ (per-layer metrics, {workload: span table rows})."""
    walls: dict = {}
    for s in spans:
        if s["pass"] != "warmup":
            walls.setdefault(s["name"], []).append(s["end"] - s["start"])
    med = {name: statistics.median(v) for name, v in walls.items()}
    counters = span_counters(spans, groups)

    vals = {name: med[span] for span, name in _SPAN_METRICS.items()}
    traced_dps = docs / med[wl_name]
    vals.update({
        "context.phase_factor": phase_factor,
        "trace.docs_per_s": traced_dps,
        "trace.untraced_docs_per_s": untraced_dps,
        "trace.overhead_pct": (untraced_dps / traced_dps - 1.0) * 100.0,
        "session.start_s": session_s,
        "sources.pages.stage_docs_per_s": docs / med["sources.pages.stage"],
        "operators.agg.input_partitions": input_partitions,
        "operators.rollup.cube_rows": raw["cube_rows"],
        "operators.rollup.cube_mb": raw["cube_mb"],
        "seen_before_probe.bloom_fpr_observed": raw["fpr"],
        **raw["floors"],
    })
    for ratio, (lib, native) in _NATIVE_RATIOS.items():
        vals[ratio] = vals[lib] / vals[native]
    hll_spans = [s for s in spans if s["name"] == "operators.agg.build_hll_url"
                 and s["pass"] != "warmup"]
    vals["operators.agg.tree_levels"] = statistics.median(
        groups.get(s["id"], {}).get("shuffle_stages", 0.0) for s in hll_spans)
    for w in WORKLOAD_NAMES:
        vals[f"{w}.pass_s"] = med[w]
        ps = [s for s in spans if s["name"] == w]
        for k in COUNTERS:
            vals[f"{w}.{k}"] = sum(counters[s["id"]][k] for s in ps) / len(ps)

    # a warm-up pass is one row of its table; its calls are not mixed
    # into the rows of the timed passes
    owner = _workload_of(spans)
    shown = [s for s in spans
             if s["pass"] != "warmup" or s["name"].endswith(".warmup")]
    tables = {w: layer_table(spans, groups,
                             [s for s in shown if owner[s["id"]] == w])
              for w in (*WORKLOAD_NAMES, "spark", "sources", "kernels")}
    out = {name: {"value": float(vals[name]), "unit": unit}
           for name, unit in PER_LAYER.items()}
    return out, tables
