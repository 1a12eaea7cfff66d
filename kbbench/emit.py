"""Turns a raw benchmark result into the result line.

The JVM reports every metric it measured plus the operations and output
checks it attempted and failed. This module selects the metrics the run
mode declares in BENCHMARK.json (``end_to_end`` untraced, ``per_layer``
traced) and attaches their units. A declared metric that is missing,
non-finite, or (end-to-end) not positive counts as one more failed
operation. A per-layer metric the workload does not produce is a layer the
workload does not exercise: it reads 0 and is listed as zero-filled.
"""
import json
import math


def load_spec(path) -> dict:
    with open(path) as f:
        return json.load(f)


def _valid(v, positive: bool) -> bool:
    if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
        return False
    return v > 0 if positive else True


def result(spec: dict, raw: dict, trace: bool):
    """Return (result, zero_filled)."""
    attempted = int(raw.get("attempted", 0))
    failed = int(raw.get("failed", 0))
    measured = raw.get("metrics", {})
    metrics, zero_filled = {}, []
    for m in spec["per_layer" if trace else "end_to_end"]:
        name = m["name"]
        v = measured.get(name)
        if trace and v is None:
            v = 0.0
            zero_filled.append(name)
        if _valid(v, positive=not trace):
            metrics[name] = {"value": float(v), "unit": m["unit"]}
        else:
            attempted += 1
            failed += 1
    out = {"correct": failed == 0, "attempted": max(attempted, 1),
           "failed": failed, "metrics": metrics}
    return out, zero_filled


def line(obj) -> str:
    return json.dumps(obj, separators=(",", ":"))
