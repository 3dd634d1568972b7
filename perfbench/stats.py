"""Summary statistics with the benchmark's reporting rules."""

from __future__ import annotations

import bisect
import math
import statistics

MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float | None:
    """The ``q``-quantile (0 < q < 1, linear interpolation between
    closest ranks), or ``None`` unless at least ``MIN_BEYOND`` samples
    lie strictly above it: a tail value read off fewer samples than that
    is noise, so it is neither printed as a number nor compared."""
    if not values:
        return None
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    value = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    beyond = len(xs) - bisect.bisect_right(xs, value)
    return value if beyond >= MIN_BEYOND else None


def geomean_of_medians(by_kind: dict[str, list[float]]) -> float | None:
    """Geometric mean, across operation types, of each type's median."""
    meds = [statistics.median(v) for v in by_kind.values() if v]
    if not meds or min(meds) <= 0:
        return None
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def metric(value, unit: str, samples: int) -> dict:
    return {"value": value, "unit": unit, "samples": samples}


def end_to_end(ops: list[dict], start: float, full_until: float) -> dict[str, dict]:
    """End-to-end metrics from client op records (``kind``, ``cls``,
    ``ok``, ``t0``, ``t1``). Throughput counts the successful ops that
    ended between ``start`` and ``full_until``, the window in which
    every client was busy, so the tail of a fixed op list, when clients
    run out of work one by one, does not dilute it."""
    good = [o for o in ops if o["ok"]]
    in_window = sum(o["t1"] <= full_until for o in good)
    elapsed_s = full_until - start
    lat = [(o["t1"] - o["t0"]) * 1e3 for o in good]
    reads = [(o["t1"] - o["t0"]) * 1e3 for o in good if o["cls"] == "read"]
    writes = [(o["t1"] - o["t0"]) * 1e3 for o in good if o["cls"] == "write"]
    by_kind: dict[str, list[float]] = {}
    for o in good:
        by_kind.setdefault(o["kind"], []).append((o["t1"] - o["t0"]) * 1e3)
    n = len(ops)
    return {
        "throughput_ops_s": metric(in_window / elapsed_s if elapsed_s > 0 else None, "ops/s", in_window),
        "latency_p50_ms": metric(percentile(lat, 0.50), "ms", len(lat)),
        "latency_p95_ms": metric(percentile(lat, 0.95), "ms", len(lat)),
        "latency_geomean_ms": metric(geomean_of_medians(by_kind), "ms", len(lat)),
        "read_p50_ms": metric(percentile(reads, 0.50), "ms", len(reads)),
        "read_p95_ms": metric(percentile(reads, 0.95), "ms", len(reads)),
        "write_p50_ms": metric(percentile(writes, 0.50), "ms", len(writes)),
        "write_p95_ms": metric(percentile(writes, 0.95), "ms", len(writes)),
        "error_rate": metric((n - len(good)) / n if n else None, "ratio", n),
    }


def by_kind(ops: list[dict]) -> dict[str, dict]:
    """Per operation type: successful count, failures and median ms (the
    shape of BASELINE.md's per-query table)."""
    out: dict[str, dict] = {}
    for o in ops:
        k = out.setdefault(o["kind"], {"ok": 0, "failed": 0, "lat": []})
        if o["ok"]:
            k["ok"] += 1
            k["lat"].append((o["t1"] - o["t0"]) * 1e3)
        else:
            k["failed"] += 1
    return {
        kind: {"ok": v["ok"], "failed": v["failed"],
               "median_ms": statistics.median(v["lat"]) if v["lat"] else None}
        for kind, v in sorted(out.items())
    }


def median_shift(base: list[dict], other: list[dict]) -> float | None:
    """Median, over the op types that succeeded in both runs, of the
    change in the type's median latency (ms) from ``base`` to ``other``:
    a difference between two runs that does not depend on their mixes."""
    a, b = by_kind(base), by_kind(other)
    diffs = [b[k]["median_ms"] - a[k]["median_ms"] for k in a
             if k in b and a[k]["median_ms"] is not None and b[k]["median_ms"] is not None]
    return statistics.median(diffs) if diffs else None
