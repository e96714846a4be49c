"""The report of one benchmark run. Workload and metric names, units,
directions and bounds come from BENCHMARK.json at the checkout root."""
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]

# What each generic end-to-end metric means on each workload, by the name
# a user of that workload would look for.
ALIASES = {
    "serve": {"latency_ms": "serve.latency_ms",
              "latency_p50_ms": "serve.latency_p50_ms",
              "latency_p90_ms": "serve.latency_p90_ms",
              "work_per_s": "serve.requests_per_s",
              "stored_bytes_per_item": "serve.stored_bytes_per_cell"},
    "ingest": {"latency_ms": "ingest.append_p50_ms",
               "work_per_s": "ingest.cells_per_s",
               "stored_bytes_per_item": "ingest.stored_bytes_per_cell"},
}

# Units of every end-to-end figure a run prints, gated or not.
UNITS = {**{m["name"]: m["unit"] for m in SPEC["end_to_end"]},
         "latency_p50_ms": "ms", "latency_p90_ms": "ms", "ops_failed_frac": "fraction",
         "jvm.peak_rss_mb": "MB"}


def _num(v):
    return float(v) if isinstance(v, (int, float)) and v == v else None


def result_line(res):
    """The run's last output line: correctness counts and the metrics."""
    correct = bool(res["correct"]) and res["failed"] == 0
    if res["trace"]:
        src, wanted = res["layers"], SPEC["per_layer"]
    else:
        src, wanted = res["e2e"], SPEC["end_to_end"]
    out = {}
    for m in wanted:
        v = _num(src.get(m["name"], 0.0 if res["trace"] else None))
        if v is None:
            correct = False
            v = 0.0
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    return {"correct": correct, "attempted": max(1, int(res["attempted"])),
            "failed": int(res["failed"]), "metrics": out}


def _fmt(v):
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


def report(res, wall_s):
    """Human-readable lines: host block, end-to-end or per-layer metrics."""
    w = res["workload"]
    host = res["host"]
    yield "[host] " + " ".join(f"{k}={_fmt(v)}" for k, v in host.items())
    info = res["info"]
    e2e = res["e2e"]
    yield (f"[{w}] seed={res['seed']} trace={int(res['trace'])} attempted={res['attempted']} "
           f"failed={res['failed']} wall_s={wall_s:.1f}")
    for f in res["failures"]:
        yield f"[{w}] FAILED {f}"
    for name in ("setup_s", "ops_failed_frac", "jvm.peak_rss_mb"):
        yield f"[{w}] {name} = {_fmt(e2e[name])} {UNITS[name]}"
    for generic, alias in ALIASES[w].items():
        yield f"[{w}] {alias} = {_fmt(e2e[generic])} {UNITS[generic]}"
    if w == "serve":
        yield (f"[{w}] requests = {info['latency_samples']}, above p90 = {info['samples_above_p90']}, "
               f"repeat share = {_fmt(info['repeat_share'])}")
    for k, v in info.items():
        yield f"[{w}] info {k} = {_fmt(v)}"
    if res["trace"]:
        layers = res["layers"]
        listed = [(m["name"], m["unit"]) for m in SPEC["per_layer"]]
        for name, unit in listed:
            yield f"[{w}] layer {name} = {_fmt(layers.get(name, 0.0))} {unit}"
        for name in sorted(set(layers) - {n for n, _ in listed}):
            if not name.startswith("self."):
                yield f"[{w}] layer {name} = {_fmt(layers[name])}"
        for k in sorted(layers):
            if k.startswith("self."):
                yield f"[{w}] self time {k[5:-3]} = {_fmt(layers[k])} ms/op"
        if "trace.overhead_ms" in layers:
            yield (f"[{w}] tracing overhead = {_fmt(layers['trace.overhead_ms'])} ms "
                   f"({_fmt(layers['trace.overhead_pct'])} %) on the median latency")
