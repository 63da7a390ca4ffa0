"""Metric arithmetic for perfbench: percentiles, span intervals and the
per-layer roll-ups. Pure functions over the records the JVM driver
writes; no Spark, no I/O."""
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def tail_percentile(values, min_beyond=10):
    """The highest percentile of `values` that still has at least
    `min_beyond` samples strictly above it.

    Returns (value, percentile, n): the order statistic at sorted index
    n - 1 - min_beyond, the percentile it sits at (share of samples at
    or below it, in %), and the sample count. With too few samples the
    maximum is returned and the percentile is 100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    i = n - 1 - min_beyond
    if i < 0:
        return xs[-1], 100.0, n
    return xs[i], 100.0 * (i + 1) / n, n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of its interval its children
    cover (children are clipped to the span)."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def span_tree(records):
    """Explicit spans from the driver's records: one span per operation,
    a construct and a materialize span inside it, and each Spark job
    under the one of those two it started in. Times in ms; every span
    carries its self time."""
    spans, jobs = [], {}
    for r in records:
        if r["kind"] == "job":
            jobs.setdefault(r["tag"], []).append(r)
    for o in (r for r in records if r["kind"] == "op"):
        tag = o["tag"]
        parts = [(f"{tag}/construct", o["start"], o["construct_end"]),
                 (f"{tag}/materialize", o["construct_end"], o["end"])]
        kids = {p[0]: [] for p in parts}
        for j in jobs.get(tag, []):
            parent = parts[0][0] if j["start"] < o["construct_end"] else parts[1][0]
            kids[parent].append(j)
            spans.append({"id": f"{tag}/job{j['id']}", "parent": parent,
                          "start": j["start"], "end": j["end"],
                          "self_ms": j["end"] - j["start"]})
        for name, s, e in parts:
            spans.append({"id": name, "parent": tag, "start": s, "end": e,
                          "self_ms": self_time(
                              (s, e), [(j["start"], j["end"]) for j in kids[name]])})
        spans.append({"id": tag, "parent": None, "start": o["start"],
                      "end": o["end"], "self_ms": 0.0})
    return spans


# ---------------------------------------------------------------- per layer

STEPS = ["landing", "raw_to_trusted", "trusted_to_refined", "audit",
         "upsert", "partitioned_write"]
KERNELS = ["minhash_gram_sig", "word_gram_digests", "simhash64",
           "dot_product", "nearest_centroid"]
MB = float(1 << 20)


def unit_of(name):
    """Unit of a per-layer metric, from its name."""
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name in ("spark.core_util", "spark.task_skew"):
        return "ratio"
    return "count"


def per_layer(records, passes, keys, modules, cores, files_written=0):
    """Per-layer metrics of the traced timed passes.

    records: dicts of kind op / job / stage written by the driver
    passes: [{"pass", "traced", "seconds"}]
    keys: the query keys of the workload (empty for medallion)
    modules: names of every module a metric is declared for
    Returns {name: value}; a layer the workload never enters reads 0."""
    traced = {p["pass"] for p in passes if p["traced"]}
    ops = [r for r in records if r["kind"] == "op" and r["phase"] == "timed"
           and r["pass"] in traced]
    by_tag = {}
    for r in records:
        if r["kind"] in ("job", "stage"):
            by_tag.setdefault(r["tag"], []).append(r)

    per_pass = {p: {} for p in traced}

    def add(p, name, v):
        per_pass[p][name] = per_pass[p].get(name, 0.0) + v

    op_secs = {}
    for o in ops:
        p, dur = o["pass"], (o["end"] - o["start"]) / 1e3
        op_secs.setdefault(o["op"], []).append(dur)
        add(p, "wall", dur)
        add(p, "busy:" + o["module"], dur)
        add(p, "plans.construct_s", (o["construct_end"] - o["start"]) / 1e3)
        kids = by_tag.get(o["tag"], [])
        jobs = [(j["start"], j["end"]) for j in kids if j["kind"] == "job"]
        add(p, "plans.jobs", len(jobs))
        add(p, "plans.driver_gap_s",
            self_time((o["start"], o["end"]), jobs) / 1e3)
        for st in (k for k in kids if k["kind"] == "stage"):
            add(p, "spark.stages", 1)
            add(p, "spark.tasks", st["tasks"])
            add(p, "spark.task_s", st["task_ms"] / 1e3)
            add(p, "spark.shuffle_write_mb", st["shuffle_write"] / MB)
            add(p, "spark.shuffle_read_mb", st["shuffle_read"] / MB)
            add(p, "spark.spill_mb", st["spill"] / MB)
            add(p, "sources.scan_mb", st["input"] / MB)
            add(p, "sources.write_mb", st["output"] / MB)
            if st["tasks"] >= 2:
                skew = st["max_task_ms"] / max(st["median_task_ms"], 1)
                per_pass[p]["skew"] = max(per_pass[p].get("skew", 0.0), skew)
    for p in per_pass:
        wall = per_pass[p].get("wall", 0.0)
        per_pass[p]["spark.core_util"] = (
            per_pass[p].get("spark.task_s", 0.0) / (wall * cores)
            if wall > 0 else 0.0)

    def med(name):
        return median([per_pass[p].get(name, 0.0) for p in per_pass])

    out = {}
    for k in keys:
        out[f"op.{k}_s"] = median(op_secs.get(k, []))
    for m in modules:
        out[f"{m}.busy_s"] = med("busy:" + m)
    for name in ("plans.construct_s", "plans.jobs", "plans.driver_gap_s",
                 "spark.stages", "spark.tasks", "spark.task_s",
                 "spark.core_util", "spark.shuffle_write_mb",
                 "spark.shuffle_read_mb", "spark.spill_mb",
                 "sources.scan_mb", "sources.write_mb"):
        out[name] = med(name)
    out["spark.task_skew"] = max(
        (per_pass[p].get("skew", 0.0) for p in per_pass), default=0.0)
    out["sources.files_written"] = float(files_written)
    for s in STEPS:
        out[f"pipeline.{s}_s"] = median(op_secs.get(s, []))
    traced_s = [p["seconds"] for p in passes if p["traced"]]
    plain_s = [p["seconds"] for p in passes if not p["traced"]]
    out["trace.overhead_s"] = (median(traced_s) - median(plain_s)
                               if traced_s and plain_s else 0.0)
    return out
