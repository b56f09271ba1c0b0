"""Statistics for the lake benchmark: latency summaries, failure counting,
recall arithmetic and per-layer self time from spans. Pure functions, so
lakebench/tests/test_stats.py can pin them on hand-built inputs."""

import statistics


def tail(samples):
    """The highest percentile that has at least ten samples beyond it.

    Returns (percentile, value, n) for sorted samples x[0..n-1]: the value is
    x[n-11], which has exactly ten samples above it, and the percentile is
    the share of samples at or below it, 100 * (n - 10) / n. With ten or
    fewer samples no such percentile exists and the result is None."""
    n = len(samples)
    if n < 11:
        return None
    ordered = sorted(samples)
    return 100.0 * (n - 10) / n, ordered[n - 11], n


def op_summary(ops, kinds):
    """Attempts, failures and latency samples of the ops of `kinds`.

    A failed op counts as attempted and as failed, and never contributes a
    latency sample."""
    chosen = [o for o in ops if o["kind"] in kinds]
    samples = [o["ms"] for o in chosen if o["ok"]]
    return {
        "attempted": len(chosen),
        "failed": sum(1 for o in chosen if not o["ok"]),
        "samples": samples,
    }


def mean_of_medians(groups):
    """Mean over the non-empty sample groups of each group's median."""
    meds = [statistics.median(g) for g in groups if g]
    return statistics.fmean(meds) if meds else None


def failed_ratio(attempted, failed):
    return failed / attempted if attempted else 0.0


def pair_recall(found, exact):
    """Share of the exact pairs that were found. Pairs are unordered."""
    norm = lambda pairs: {tuple(sorted(p)) for p in pairs}
    exact_set = norm(exact)
    if not exact_set:
        return 1.0
    return len(norm(found) & exact_set) / len(exact_set)


def topk_recall(results):
    """Mean recall@k over queries: each result is a dict with the `exact`
    neighbour list (k ids) and the `approx` list it is scored against."""
    if not results:
        return 1.0
    per_query = [
        len(set(r["approx"]) & set(r["exact"])) / len(r["exact"]) if r["exact"] else 1.0
        for r in results
    ]
    return statistics.fmean(per_query)


# Span name prefix -> layer. Root op spans ("op.<kind>") are the client.
LAYERS = {
    "op": "client",
    "meta": "meta",
    "manifests": "manifests",
    "prune": "prune",
    "sql": "plan",
    "scan": "scan",
    "write": "write",
    "dedup": "kernel",
    "sim": "kernel",
}


def layer_of(name):
    return LAYERS.get(name.split(".", 1)[0], "other")


def self_times_ms(spans):
    """Self time per layer, in ms: each span's duration minus the part of
    its interval that its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered = 0
        # children of one single-threaded parent never overlap each other
        for c in children.get(s["id"], []):
            covered += max(0, min(hi, c["end_ns"]) - max(lo, c["start_ns"]))
        layer = layer_of(s["name"])
        out[layer] = out.get(layer, 0.0) + (hi - lo - covered) / 1e6
    return out
