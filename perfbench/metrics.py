"""Metric derivation: the gated end-to-end set, the per-layer set of a traced
run, and the workload-specific figures printed beside them.

The gated sets are the ones ``BENCHMARK.json`` lists; every workload reports
every one of them.
"""

from __future__ import annotations

import statistics

from spans import LAYERS

#: name → unit of the end-to-end metrics (``--trace 0``)
END_TO_END = {
    "setup_s": "s",
    "op_baseline_ratio": "ratio",
    "compression_ratio": "ratio",
    "peak_rss_mb": "MB",
}

#: columns of the transcript table, which both listed workloads store
COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")
#: the pushdown operators of a query round (the full decode aside)
OPERATORS = ("sum", "filter_gt", "filter_range", "filter_eq_string", "filter_prefix_string",
             "topk", "group_count", "lookup_eq")

#: name → unit of the per-layer metrics (``--trace 1``)
PER_LAYER = {
    "session.start_s": "s",
    "sources.gen_s": "s",
    "learned.fit_s": "s",
    "encode.prep.race_seed_s": "s",
    "encode.prep.linked_probe_s": "s",
    "encode.job_s": "s",
    "encode.job_nonkernel_s": "s",
    "encode.commit_s": "s",
    "chunkstore.lineage_read_s": "s",
    "chunkstore.files_written": "count",
    "chunkstore.scan_s": "s",
    "kernel.encode_s": "s",
    "kernel.decode_s": "s",
    "kernel.string.encode_s": "s",
    "kernel.numeric.encode_s": "s",
    "kernel.encode_rows_per_s_1t": "rows/s",
    **{f"kernel.{c}.{d}_s": "s" for c in COLUMNS for d in ("encode", "decode")},
    "store.enc_bytes": "bytes",
    **{f"store.{c}.enc_bytes": "bytes" for c in COLUMNS},
    "store.chunks": "count",
    "decode.kernel_s": "s",
    "pushdown.s": "s",
    "pushdown.chunks_kept": "count",
    **{f"pushdown.{op}_s": "s" for op in OPERATORS},
    **{f"pushdown.{op}.chunks_kept": "count" for op in OPERATORS},
    "compact.s": "s",
    "compact.parts": "count",
    "compact.chunks_before": "count",
    "compact.chunks_after": "count",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    "trace.overhead_rows_per_s": "rows/s",
    "probe.encode_1t_s": "s",
}

_PREP = ("learned.params", "encode.prep.race_seed", "encode.prep.linked_probe")


def _rate(ops) -> float:
    """Median of the operations' own rows/s (robust to one slow call)."""
    return statistics.median(o["rows"] / o["s"] for o in ops) if ops else 0.0


def _ok(run, kinds) -> list[dict]:
    return [o for o in run.ops if o["ok"] and o["kind"] in kinds]


def end_to_end(run, peak_rss: float) -> dict[str, float]:
    prim = [o for o in run.ops if o["ok"] and o["primary"]]
    op_s = statistics.fmean(o["s"] for o in prim) if prim else 0.0
    base_s = statistics.fmean(run.baseline_s) if run.baseline_s else 0.0
    return {
        "setup_s": run.setup_s,
        # the mean operation wall over the mean wall of the same run's
        # plain-Spark baseline passes (``workloads._baseline``)
        "op_baseline_ratio": op_s / base_s if base_s else 0.0,
        "compression_ratio": statistics.median(run.ratios) if run.ratios else 0.0,
        "peak_rss_mb": peak_rss / 2**20,
    }


def per_layer(run, probe_s: float) -> dict[str, float]:
    t = run.tracer
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update({k: v for k, v in {**run.detail, **run.layer}.items() if k in out})
    out["session.start_s"] = t.duration("session.start")
    out["sources.gen_s"] = t.duration("sources.gen")
    out["learned.fit_s"] = t.duration("learned.fit")
    # per encode call of the workload (harness-issued spans carry ``rows``)
    calls = [s for s in t.named("encode") if "rows" in s and "job_s" in s]
    if calls:
        race, lineage, commit = [], [], []
        for s in calls:
            kids = t.children(s)
            race += [k["end"] - k["start"] for k in kids if k["name"] == "encode.prep.race_seed"]
            lineage.append(
                sum(k["end"] - k["start"] for k in kids if k["name"] == "chunkstore.lineage_read")
            )
            prep_end = max([k["end"] for k in kids if k["name"] in _PREP], default=s["start"])
            commit.append(s["end"] - prep_end - s["job_s"])
        out["encode.prep.race_seed_s"] = statistics.fmean(race) if race else 0.0
        out["encode.job_s"] = statistics.fmean(s["job_s"] for s in calls)
        out["encode.commit_s"] = statistics.fmean(commit)
        out["chunkstore.lineage_read_s"] = statistics.fmean(lineage)
        out["chunkstore.files_written"] = statistics.fmean(
            s.get("files_written", 0) for s in calls
        )
        out["encode.job_nonkernel_s"] = out["encode.job_s"] - (
            run.layer.get("kernel_per_call_s", 0.0) / run.cpus
        )
    out["encode.prep.linked_probe_s"] = t.duration("encode.prep.linked_probe")
    compacts = _ok(run, ("compact",))
    out["compact.s"] = statistics.median(o["s"] for o in compacts) if compacts else 0.0
    for layer, s in t.self_times().items():
        out[f"self.{layer}_s"] = s
    warm = [o for o in run.ops if o["ok"] and o["primary"] and o["seq"] > 0]
    out["trace.overhead_rows_per_s"] = _rate([o for o in warm if o["traced"]]) - _rate(
        [o for o in warm if not o["traced"]]
    )
    out["probe.encode_1t_s"] = probe_s
    return out


def workload_figures(run, peak_rss: float) -> dict[str, tuple[float, str, int]]:
    """The workload-specific end-to-end figures, ``name → (value, unit,
    samples)``, for those that apply to this run's operations."""
    from workloads import query_calls

    figs: dict[str, tuple[float, str, int]] = {}
    e2e = end_to_end(run, peak_rss)
    figs["setup_s"] = (e2e["setup_s"], "s", 1)
    prim = [o for o in run.ops if o["ok"] and o["primary"]]
    if prim:
        figs["op_s_p50"] = (statistics.median(o["s"] for o in prim), "s", len(prim))
        figs["op_s_mean"] = (statistics.fmean(o["s"] for o in prim), "s", len(prim))
    if run.baseline_s:
        figs["baseline_s_mean"] = (statistics.fmean(run.baseline_s), "s", len(run.baseline_s))
    figs["op_baseline_ratio"] = (e2e["op_baseline_ratio"], "ratio", len(prim))
    calls = query_calls(run)
    decodes = _ok(run, ("decode",)) + [
        {"rows": run.rows_per_call, **c} for c in calls if c["kind"] == "decode"
    ]
    for name, ops in (("encode_rows_per_s", _ok(run, ("encode",))),
                      ("append_rows_per_s", _ok(run, ("append",))),
                      ("decode_rows_per_s", decodes)):
        if ops:
            figs[name] = (_rate(ops), "rows/s", len(ops))
    if run.ratios:
        figs["compression_ratio"] = (e2e["compression_ratio"], "ratio", len(run.ratios))
    if calls:
        qs = sorted(c["s"] for c in calls)
        figs["query_s_p50"] = (statistics.median(qs), "s", len(qs))
        if len(qs) >= 100:  # ten samples beyond the 90th percentile
            figs["query_s_p90"] = (statistics.quantiles(qs, n=10)[-1], "s", len(qs))
        figs["queries_per_s"] = (len(qs) / sum(qs), "1/s", len(qs))
    compacts = _ok(run, ("compact",))
    if compacts:
        figs["compact_s"] = (compacts[0]["s"], "s", len(compacts))
    figs["peak_rss_mb"] = (e2e["peak_rss_mb"], "MB", 1)
    figs["failed_ops_frac"] = (run.failed / max(run.attempted, 1), "frac", run.attempted)
    return figs
